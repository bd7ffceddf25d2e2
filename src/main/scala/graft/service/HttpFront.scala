package graft.service

import java.net.InetSocketAddress
import java.net.URLDecoder
import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.immutable.VectorMap

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.SparkSession

import graft.Tables
import graft.etl.EtlJob
import graft.sinks.Sinks
import graft.sources.Sources
import graft.transform.Stamp

/** Network-listening HTTP front over [[QueryService]] — the literal
  * twin of the reference's FastAPI layer (`src/api/main.py:54-398`),
  * built on the JDK's `com.sun.net.httpserver` so the engine binds a
  * real socket with zero added dependencies. Every handler DELEGATES
  * to the in-process service (which owns parameter handling, query
  * construction, response envelopes, and the FAIR-pool request
  * classes); this class owns only the HTTP frame: route dispatch,
  * query-string/body decode, JSON encode, status codes, and the
  * reference's error envelope (`{"detail": …}` on failure, exactly
  * FastAPI's `HTTPException` shape).
  *
  * Routes mirrored from `main.py` — `/` (54-61), `/health` (63-70),
  * `/api/v1/status` (72-91), `/api/v1/config` (113-131),
  * `/api/v1/query/postgres` (154-178), `/api/v1/query/mongodb`
  * (180-201), `/api/v1/query/influxdb` (203-221), POST
  * `/api/v1/etl/run` (224-271), POST `/api/v1/data/upload` (273-304),
  * `/api/v1/databases/health` (307-347), `/api/v1/metadata/tables` and
  * `/api/v1/metadata/collections` (349-377) — plus the engine's own
  * `/api/v1/sql` and `/api/v1/explain` extensions (the QueryService
  * surface a reference user gains by switching).
  *
  * Concurrency: the server runs on a cached thread pool, one thread
  * per in-flight exchange; QueryService tags each caller thread's
  * Spark jobs with its request-class FAIR pool, so 100+ concurrent
  * HTTP callers share executors by weight instead of head-of-line
  * blocking (spec-driven at 64 callers in ServiceHttpSpec).
  *
  * Scale stance: unchanged from QueryService — every data endpoint's
  * response is one limit-bounded page, collected once by `records`
  * (its `count` is the page size), so a 100 TB lake behind the query
  * endpoints costs one pruned scan and driver memory only for the
  * returned page.
  */
final class HttpFront(spark: SparkSession, sfDir: String,
    port: Int = 0) {

  /** The in-process twin every handler delegates to; exposed so specs
    * can assert HTTP answers equal direct-call answers. */
  val service = new QueryService(spark, sfDir)

  private val mapper = new ObjectMapper()
  private val server =
    HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
  private val pool = java.util.concurrent.Executors.newCachedThreadPool()
  private val jobSeq = new java.util.concurrent.atomic.AtomicLong(0L)
  private val uploadSeq = new java.util.concurrent.atomic.AtomicLong(0L)
  private val requestSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  // ---- JSON encode: Scala/JDBC values → Jackson-friendly tree ------
  // (Jackson's Scala module is on Spark's classpath, but it would
  // serialize leaf values by their bean shape; this converter rewrites
  // every leaf at any depth instead: temporal values as their SQL
  // string forms, binaries as base64 — the same choices a JSON API
  // gateway makes — and Scala collections as java ones on the way)
  private def jsonable(v: Any): AnyRef = v match {
    case null => null
    case m: scala.collection.Map[_, _] =>
      val o = new java.util.LinkedHashMap[String, AnyRef]()
      m.foreach { case (k, x) => o.put(String.valueOf(k), jsonable(x)) }
      o
    case s: scala.collection.Seq[_] =>
      val a = new java.util.ArrayList[AnyRef](s.length)
      s.foreach(x => a.add(jsonable(x)))
      a
    case a: Array[Byte] => java.util.Base64.getEncoder.encodeToString(a)
    case a: Array[_] => jsonable(a.toSeq)
    case t: java.sql.Timestamp => t.toString
    case d: java.sql.Date => d.toString
    case d: java.math.BigDecimal => d
    case b: Boolean => java.lang.Boolean.valueOf(b)
    case n: Byte => java.lang.Long.valueOf(n.toLong)
    case n: Short => java.lang.Long.valueOf(n.toLong)
    case n: Int => java.lang.Long.valueOf(n.toLong)
    case n: Long => java.lang.Long.valueOf(n)
    case n: Float => java.lang.Double.valueOf(n.toDouble)
    case n: Double => java.lang.Double.valueOf(n)
    case r: org.apache.spark.sql.Row =>
      jsonable(r.schema.fieldNames.zip(r.toSeq).to(VectorMap))
    case other => String.valueOf(other)
  }

  private def toJson(v: Any): String =
    mapper.writeValueAsString(jsonable(v))

  private def parseBody(ex: HttpExchange): Map[String, Any] = {
    import scala.jdk.CollectionConverters._
    val text = new String(ex.getRequestBody.readAllBytes(), UTF_8)
    def fromJava(v: Any): Any = v match {
      case m: java.util.Map[_, _] =>
        m.asScala.map { case (k, x) => String.valueOf(k) -> fromJava(x) }
          .toMap
      case l: java.util.List[_] => l.asScala.map(fromJava).toSeq
      case other => other
    }
    fromJava(mapper.readValue(text,
      classOf[java.util.LinkedHashMap[String, Object]]))
      .asInstanceOf[Map[String, Any]]
  }

  private def params(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getRawQuery).getOrElse("").split('&')
      .filter(_.nonEmpty).flatMap { kv =>
        kv.split("=", 2) match {
          case Array(k, v) =>
            Some(URLDecoder.decode(k, UTF_8) ->
              URLDecoder.decode(v, UTF_8))
          case Array(k) => Some(URLDecoder.decode(k, UTF_8) -> "")
          case _ => None
        }
      }.toMap

  private def respond(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes(UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  import HttpFront.BadRequest

  private def need(p: Map[String, String], k: String): String =
    p.getOrElse(k, throw BadRequest(s"missing required parameter '$k'"))
  /** The page `limit`, from the query string or a JSON body. FastAPI
    * types its params: anything but a non-negative integer is a 422
    * request-validation error there, so here too — not a 500. */
  private def limitParam(raw: Option[Any], dflt: Int): Int =
    raw.map(String.valueOf).map { v =>
      v.toIntOption.filter(_ >= 0).getOrElse(throw BadRequest(
        s"parameter 'limit' must be a non-negative integer, got '$v'"))
    }.getOrElse(dflt)
  private def needB(b: Map[String, Any], k: String): Any =
    b.getOrElse(k, throw BadRequest(s"missing required field '$k'"))

  private def handle(ex: HttpExchange)(body: => (Int, Any)): Unit =
    try {
      requestSeq.incrementAndGet()
      val (code, payload) = body
      respond(ex, code, toJson(payload))
    } catch {
      case BadRequest(m) =>
        respond(ex, 422, toJson(Map("detail" -> m)))
      case e: Exception =>
        respond(ex, 500, toJson(Map(
          "detail" -> s"${ex.getRequestURI.getPath} failed: ${e.getMessage}")))
    }

  /** Envelope a query response the way the reference's query endpoints
    * do (`main.py:168-173`): status + materialized page + its size +
    * source identity under the given key. */
  private def envelope(r: service.Response,
      key: String): Map[String, Any] = Map(
    "status" -> r.status, "data" -> r.records,
    "count" -> r.count, key -> r.source)

  // ---- ETL/upload body interpretation (main.py:224-304) ------------
  // source_type selects the extractor exactly like the reference's
  // dispatch: the three database types resolve to lake-table scans
  // (the engine's parquet lake IS the multi-source store), 'file'
  // to the config-driven file scan. Targets load through Sinks.
  private def etlSource(srcType: String,
      conf: Map[String, Any]): SparkSession => org.apache.spark.sql.DataFrame =
    srcType match {
      case "file" =>
        val path = String.valueOf(needB(conf, "path"))
        val fmt = conf.get("format").map(String.valueOf)
        sp => Sources.file(sp, path, fmt)
      case "postgres" | "table" =>
        val t = String.valueOf(needB(conf, "table"))
        sp => Tables.load(sp, sfDir, t)
      case "mongodb" =>
        val c = String.valueOf(needB(conf, "collection"))
        sp => Tables.load(sp, sfDir, c)
      case "influxdb" =>
        val m = String.valueOf(needB(conf, "measurement"))
        sp => Tables.load(sp, sfDir, m)
      case other => throw BadRequest(s"Unsupported source type: $other")
    }

  private def targetRoute(conf: Map[String, Any]): Sinks.Route = {
    val path = String.valueOf(needB(conf, "path"))
    val fmt = conf.get("format").map(String.valueOf).getOrElse("parquet")
    val mode = conf.get("if_exists").map(String.valueOf).getOrElse("append")
    Sinks.Route("target", org.apache.spark.sql.functions.lit(true),
      d => Sinks.load(d, path, fmt, mode))
  }

  private def loadResultsJson(
      lr: Map[String, Sinks.LoadResult]): Map[String, Any] =
    lr.map { case (k, r) => k -> Map(
      "target" -> r.target, "status" -> r.status, "count" -> r.count) }

  /** The reference ships an HTML dashboard beside the API
    * (`frontend/index.html`: status cards + health/ETL/stats buttons
    * over `fetch` calls); this serves the engine's own equivalent —
    * authored for this engine, not copied — wired to the live
    * endpoints above (`/health`, `/api/v1/databases/health`,
    * `/api/v1/stats/etl`, POST `/api/v1/sql`). Static bytes from the
    * classpath; everything dynamic happens through the JSON API the
    * page calls, exactly as a real deployment separates the two. */
  private lazy val dashboardHtml: Array[Byte] = {
    val in = getClass.getResourceAsStream("/graft/dashboard.html")
    require(in != null, "dashboard.html missing from classpath")
    try in.readAllBytes() finally in.close()
  }

  private def respondHtml(ex: HttpExchange): Unit = {
    requestSeq.incrementAndGet()
    ex.getResponseHeaders.set("Content-Type", "text/html; charset=utf-8")
    ex.sendResponseHeaders(200, dashboardHtml.length)
    ex.getResponseBody.write(dashboardHtml)
    ex.close()
  }

  // ---- route table --------------------------------------------------
  server.createContext("/", (ex: HttpExchange) => {
    val rawPath = ex.getRequestURI.getPath.stripSuffix("/")
    if (rawPath == "/dashboard" && ex.getRequestMethod == "GET")
      respondHtml(ex)
    else handle(ex) {
    val path = rawPath match {
      case "" => "/"
      case p => p
    }
    val get = ex.getRequestMethod == "GET"
    val post = ex.getRequestMethod == "POST"
    path match {
      case "/" if get => (200, Map(
        "message" -> "graft data lake API",
        "version" -> "1.0.0",
        "status" -> "running",
        "environment" -> sfDir))
      case "/health" if get =>
        (200, service.health ++ Map("version" -> "1.0.0"))
      case "/api/v1/status" if get => (200, Map(
        "api" -> Map("status" -> "running", "version" -> "1.0.0",
          "environment" -> sfDir),
        "tables" -> service.status))
      case "/api/v1/config" if get => (200, Map(
        "app_name" -> "graft",
        "environment" -> sfDir,
        "data_paths" -> Map("lake" -> sfDir),
        "engine" -> Map(
          "spark_version" -> spark.version,
          "shuffle_partitions" ->
            spark.conf.get("spark.sql.shuffle.partitions"))))
      case "/api/v1/query/postgres" if get =>
        val p = params(ex)
        val r = service.query(need(p, "table"),
          p.get("where").filter(_.nonEmpty),
          limitParam(p.get("limit"), 100))
        (200, envelope(r, "table"))
      case "/api/v1/query/mongodb" if get =>
        val p = params(ex)
        val r = service.queryCollectionJson(need(p, "collection"),
          p.getOrElse("filter", "{}"),
          limitParam(p.get("limit"), 100))
        (200, envelope(r, "collection"))
      case "/api/v1/query/influxdb" if get =>
        val p = params(ex)
        val start = p.getOrElse("start", "-1h")
        val stop = p.getOrElse("stop", "now()")
        val r = service.queryRange(need(p, "measurement"),
          tsCol = p.getOrElse("ts_col", "ts"), start = start,
          stop = stop,
          fields = p.get("fields").toSeq
            .flatMap(_.split(',').map(_.trim).filter(_.nonEmpty)),
          limit = limitParam(p.get("limit"), QueryService.DefaultLimit))
        (200, envelope(r, "measurement") +
          ("time_range" -> s"$start to $stop"))
      case "/api/v1/sql" if post =>
        val b = parseBody(ex)
        val r = service.sql(String.valueOf(needB(b, "sql")),
          limitParam(b.get("limit"), QueryService.DefaultLimit))
        (200, envelope(r, "source"))
      case "/api/v1/explain" if post =>
        val b = parseBody(ex)
        (200, Map("status" -> "success",
          "plan" -> service.explain(String.valueOf(needB(b, "sql")))))
      case "/api/v1/etl/run" if post =>
        val b = parseBody(ex)
        val srcConf = b.get("source_config")
          .collect { case m: Map[_, _] =>
            m.asInstanceOf[Map[String, Any]] }.getOrElse(Map.empty)
        val tgtConf = b.get("target_config")
          .collect { case m: Map[_, _] =>
            m.asInstanceOf[Map[String, Any]] }.getOrElse(Map.empty)
        val transforms = b.get("transformations")
          .collect { case s: Seq[_] => s.map(String.valueOf) }
          .getOrElse(Nil)
        val job = EtlJob(
          source = etlSource(String.valueOf(needB(b, "source_type")),
            srcConf),
          transformations = transforms,
          routes = Seq(targetRoute(tgtConf)),
          stamp = Stamp.off)
        val (status, result) = service.runEtl(job)
        (200, Map(
          "status" -> status,
          "job_id" -> s"job_${jobSeq.incrementAndGet()}",
          "extracted_count" -> result.recordsProcessed,
          "transformation_stats" -> Map(
            "stages_applied" -> result.stagesApplied,
            "stage_errors" -> result.stageErrors),
          "load_results" -> loadResultsJson(result.loadResults)))
      case "/api/v1/data/upload" if post =>
        val b = parseBody(ex)
        val records = b.get("data")
          .collect { case s: Seq[_] => s }.getOrElse(Nil)
        if (records.isEmpty) throw BadRequest("'data' must be a " +
          "non-empty array of records")
        val tgtConf = b.get("target_config")
          .collect { case m: Map[_, _] =>
            m.asInstanceOf[Map[String, Any]] }.getOrElse(Map.empty)
        // records → DataFrame through the JSON reader (schema
        // inference exactly as a JSON file load would see them)
        import spark.implicits._
        val df = spark.read.json(
          records.map(r => toJson(r)).toDS())
        val up = service.upload(df,
          String.valueOf(needB(tgtConf, "path")),
          tgtConf.get("format").map(String.valueOf).getOrElse("parquet"),
          tgtConf.get("if_exists").map(String.valueOf)
            .getOrElse("append"))
        uploadSeq.incrementAndGet()
        (200, Map("status" -> "success",
          "uploaded_count" -> records.size,
          "results" -> up))
      // engine extension the reference's dashboard CALLS but its API
      // never implemented (`frontend/index.html` showStats() fetches
      // /api/v1/stats/etl; main.py has no such route — it 404s there):
      // honest in-process service counters since bind
      case "/api/v1/stats/etl" if get =>
        (200, Map(
          "jobs_run" -> jobSeq.get(),
          "uploads_run" -> uploadSeq.get(),
          "requests_served" -> requestSeq.get(),
          "last_job_id" ->
            (if (jobSeq.get() == 0L) null else s"job_${jobSeq.get()}")))
      case "/api/v1/databases/health" if get =>
        val st = service.status
        (200, Map(
          "overall_status" ->
            (if (st.values.forall(identity)) "healthy" else "degraded"),
          "tables" -> st.map { case (t, ok) => t -> Map(
            "status" -> (if (ok) "healthy" else "error")) }))
      case "/api/v1/metadata/tables" if get =>
        (200, Map("tables" -> Tables.all))
      case "/api/v1/metadata/collections" if get =>
        (200, Map("collections" -> Tables.all))
      case _ if get || post => (404, Map("detail" -> "Not Found"))
      case _ => (405, Map("detail" -> "Method Not Allowed"))
    }
    }
  })

  server.setExecutor(pool)

  def start(): HttpFront = { server.start(); this }
  def boundPort: Int = server.getAddress.getPort
  def stop(): Unit = { server.stop(0); pool.shutdown() }
}

object HttpFront {
  /** The reference's error contract: handler failure → HTTP 500 with
    * FastAPI's `{"detail": "<context>: <message>"}` envelope
    * (`main.py` wraps every endpoint body in exactly this). A missing
    * or ill-typed parameter/field → 422, FastAPI's request-validation
    * code. */
  private final case class BadRequest(msg: String)
      extends RuntimeException(msg)
}
