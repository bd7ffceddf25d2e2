package perfbench

import java.net.URI
import java.net.URLEncoder
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.lit

import graft.etl.EtlJob
import graft.service.{HttpFront, QueryService}
import graft.sinks.Sinks
import graft.sources.Sources
import graft.transform.Stamp

import Json._

/** serve_mixed: an in-process `HttpFront` on 127.0.0.1 with closed-loop
  * clients (each waits for its reply before the next request): three
  * readers taking turns through one seeded request stream and one
  * writer appending
  * record batches, every k-th write an ETL trigger.
  *
  * Traced runs repeat every request in-process on the front's own
  * `QueryService` from the client thread, inside a span, so the jobs,
  * plan time and scan rows of each request class attribute exactly and
  * `http_ms - direct_ms` isolates the HTTP frame and JSON handling. */
final class ServeWorkload(spark: SparkSession, tracer: Tracer,
    spec: Map[String, Any]) extends Workload {
  private val work = spec.str("work")
  private val lakeDir = spec.obj("lake").str("dir")
  private val manifest = Json.read(spec.obj("serve").str("path"))
  private val seed = spec.long("seed")
  private val reads = manifest.objs("reads")
  private val nReaders = manifest.long("readers").toInt
  private val batches = manifest.arr("batches")
  private val landing = manifest.objs("landing")
  private val etlEvery = manifest.long("etl_every").toInt

  private val front = new HttpFront(spark, lakeDir, 0).start()
  private val base = s"http://127.0.0.1:${front.boundPort}"
  private val uploads = s"$work/serve_uploads"
  private val etlOut = s"$work/serve_etl_out"

  def close(): Unit = front.stop()

  private def enc(s: String) = URLEncoder.encode(s, UTF_8)

  private def readRequest(r: Map[String, Any]): HttpRequest = {
    val b = HttpRequest.newBuilder()
    r.str("cls") match {
      case "point" | "range" => b.uri(URI.create(
        s"$base/api/v1/query/postgres?table=${enc(r.str("table"))}" +
          s"&where=${enc(r.str("where"))}&limit=${r.long("limit")}")).GET()
      case "collection" => b.uri(URI.create(
        s"$base/api/v1/query/mongodb?collection=${enc(r.str("collection"))}" +
          s"&filter=${enc(r.str("filter"))}&limit=${r.long("limit")}")).GET()
      case "timerange" => b.uri(URI.create(
        s"$base/api/v1/query/influxdb?measurement=${enc(r.str("measurement"))}" +
          s"&start=${enc(r.str("start"))}&stop=${enc(r.str("stop"))}" +
          s"&fields=${enc(r.str("fields"))}")).GET()
      case "sql" => b.uri(URI.create(s"$base/api/v1/sql"))
        .header("Content-Type", "application/json")
        .POST(HttpRequest.BodyPublishers.ofString(Json.write(
          Map("sql" -> r.str("sql"), "limit" -> r.long("limit")))))
    }
    b.build()
  }

  /** The same read made in-process: both actions the envelope runs. */
  private def readDirect(svc: QueryService, r: Map[String, Any]): Unit = {
    val resp = r.str("cls") match {
      case "point" | "range" =>
        svc.query(r.str("table"), Some(r.str("where")), r.long("limit").toInt)
      case "collection" => svc.queryCollectionJson(r.str("collection"),
        r.str("filter"), r.long("limit").toInt)
      case "timerange" => svc.queryRange(r.str("measurement"), "ts",
        r.str("start"), r.str("stop"), r.str("fields").split(',').toSeq)
      case "sql" => svc.sql(r.str("sql"), r.long("limit").toInt)
    }
    resp.records
    tracer.rows(resp.count)
  }

  private def post(path: String, body: Any): HttpRequest =
    HttpRequest.newBuilder().uri(URI.create(s"$base$path"))
      .header("Content-Type", "application/json")
      .POST(HttpRequest.BodyPublishers.ofString(Json.write(body))).build()

  private def uploadRequest(b: Int, target: String): HttpRequest =
    post("/api/v1/data/upload", Map("data" -> batches(b),
      "target_config" -> Map("path" -> target, "format" -> "parquet",
        "if_exists" -> "append")))

  private def etlRequest(l: Int, target: String): HttpRequest =
    post("/api/v1/etl/run", Map("source_type" -> "file",
      "source_config" -> Map("path" -> landing(l).str("path"),
        "format" -> "jsonl"),
      "transformations" -> Seq("cleaning", "validation"),
      "target_config" -> Map("path" -> target, "format" -> "parquet")))

  private def uploadDirect(b: Int): Unit = {
    import spark.implicits._
    val df = spark.read.json(batches(b).asInstanceOf[Vector[Any]]
      .map(Json.write(_)).toDS())
    front.service.upload(df, s"$work/serve_uploads_direct")
    tracer.rows(batches(b).asInstanceOf[Vector[Any]].size)
  }

  private def etlDirect(l: Int): Unit = {
    val target = s"$work/serve_etl_direct"
    front.service.runEtl(EtlJob(
      source = sp => Sources.file(sp, landing(l).str("path"), Some("jsonl")),
      transformations = Seq("cleaning", "validation"),
      routes = Seq(Sinks.Route("target", lit(true),
        d => Sinks.load(d, target))),
      stamp = Stamp.off))
    tracer.rows(landing(l).long("rows"))
  }

  /** Each client thread's timed window (see [[Tracer.threadWindow]]). */
  private val windows =
    new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Any]]()

  final case class Sample(cls: String, client: Int, pos: Int, startNs: Long,
      ms: Double, steal: Double, status: Int, body: Option[String],
      arg: Int = -1)

  private def send(client: HttpClient, req: HttpRequest): (Int, String) = {
    val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }

  /** Keep a seeded ~1/8 sample of read bodies for the output checks. */
  private def keep(pos: Int): Boolean =
    pos < reads.size && ((pos.toLong * 2654435761L + seed) & 7L) == 0L

  /** One reader: takes the next request of the shared stream, waits for
    * its reply, repeats until the deadline. */
  private def readerLoop(i: Int, stream: Vector[Map[String, Any]],
      cursor: java.util.concurrent.atomic.AtomicInteger, deadline: Long,
      traced: Boolean): Vector[Sample] = {
    val client = HttpClient.newBuilder()
      .version(HttpClient.Version.HTTP_1_1).build()
    val out = Vector.newBuilder[Sample]
    val start = tracer.nowNs
    var n = 0
    var first = true
    while (first || System.nanoTime() < deadline) {
      first = false
      val pos = cursor.getAndIncrement()
      val r = stream(pos % stream.size)
      val cls = r.str("cls")
      val op = s"r$pos"
      val ticks0 = Cpu.ticks()
      val t0 = System.nanoTime()
      val (status, body) =
        try tracer.span("http", s"service.$cls.http", op)(
          send(client, readRequest(r)))
        catch { case e: Exception => (-1, e.toString) }
      val ms = (System.nanoTime() - t0) / 1e6
      val steal = Cpu.stealShare(ticks0, Cpu.ticks())
      val k = status != 200 || keep(pos)
      out += Sample(cls, i, pos, t0, ms, steal, status,
        if (k) Some(body) else None)
      if (traced)
        try tracer.span("QueryService", s"service.$cls.direct", op)(
          readDirect(front.service, r))
        catch { case _: Exception => () }
      n += 1
    }
    windows.add(tracer.threadWindow(start, n))
    out.result()
  }

  private def writerLoop(deadline: Long, traced: Boolean,
      uploadTarget: String, etlTarget: String): Vector[Sample] = {
    val client = HttpClient.newBuilder()
      .version(HttpClient.Version.HTTP_1_1).build()
    val out = Vector.newBuilder[Sample]
    val start = tracer.nowNs
    var w = 0
    var nUp = 0
    var nEtl = 0
    while (w == 0 || System.nanoTime() < deadline) {
      val isEtl = w % etlEvery == etlEvery - 1
      val (cls, arg, req) =
        if (isEtl) ("etl_run", nEtl % landing.size,
          etlRequest(nEtl % landing.size, etlTarget))
        else ("upload", nUp % batches.size,
          uploadRequest(nUp % batches.size, uploadTarget))
      val op = s"w-$w"
      val ticks0 = Cpu.ticks()
      val t0 = System.nanoTime()
      val (status, body) =
        try tracer.span("http", s"service.$cls.http", op)(send(client, req))
        catch { case e: Exception => (-1, e.toString) }
      out += Sample(cls, -1, w, t0, (System.nanoTime() - t0) / 1e6,
        Cpu.stealShare(ticks0, Cpu.ticks()), status,
        if (status != 200) Some(body) else None, arg)
      if (traced)
        try tracer.span("QueryService", s"service.$cls.direct", op)(
          if (isEtl) etlDirect(arg) else uploadDirect(arg))
        catch { case _: Exception => () }
      if (isEtl) nEtl += 1 else nUp += 1
      w += 1
    }
    windows.add(tracer.threadWindow(start, w))
    out.result()
  }

  /** First-touch costs land here: every read kind and both write
    * classes once, against write targets the checks never read. */
  def warmup(): Unit = {
    val warm = manifest.objs("warmup")
    val client = HttpClient.newBuilder()
      .version(HttpClient.Version.HTTP_1_1).build()
    warm.groupBy(r => r.getOrElse("kind", r("cls"))).values.map(_.head)
      .foreach(r => send(client, readRequest(r)))
    send(client, uploadRequest(0, s"$work/warm_uploads"))
    send(client, etlRequest(0, s"$work/warm_etl_out"))
  }

  private def loop(stream: Vector[Map[String, Any]], seconds: Double,
      traced: Boolean, uploadTarget: String,
      etlTarget: String): (Vector[Sample], Vector[Sample]) = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val cursor = new java.util.concurrent.atomic.AtomicInteger
    val pool = java.util.concurrent.Executors.newFixedThreadPool(nReaders + 1)
    try {
      val rf = (0 until nReaders).map(i =>
        pool.submit(() => readerLoop(i, stream, cursor, deadline, traced)))
      val wf = pool.submit(() =>
        writerLoop(deadline, traced, uploadTarget, etlTarget))
      (rf.flatMap(_.get()).toVector, wf.get())
    } finally { pool.shutdown(); () }
  }

  def run(seconds: Double): Map[String, Any] = {
    val traced = tracer.enabled
    val start = tracer.nowNs
    val (done, writes) = loop(reads, seconds, traced, uploads, etlOut)
    val end = tracer.nowNs
    def rec(s: Sample) = Map("cls" -> s.cls, "client" -> s.client,
      "pos" -> s.pos, "ms" -> s.ms, "steal" -> s.steal, "status" -> s.status,
      "arg" -> s.arg,
      "t_ms" -> (s.startNs / 1e6))
    Map(
      "uploads" -> uploads, "etl_out" -> etlOut,
      "reads" -> done.map(rec), "writes" -> writes.map(rec),
      "samples" -> done.filter(_.body.isDefined).map(s =>
        rec(s) ++ Map("request" -> reads(s.pos % reads.size),
          "body" -> s.body.get)),
      "write_errors" -> writes.filter(_.body.isDefined).map(s =>
        rec(s) ++ Map("body" -> s.body.get)),
      "threads" -> windows.asScala.toVector,
      "timed_wall_ms" -> (end - start) / 1e6) ++
      (if (traced) Map("spans" -> tracer.spanRecords(),
        "window" -> tracer.window(start, end),
        "pools" -> tracer.poolTotals(start, end)) else Map.empty)
  }
}
