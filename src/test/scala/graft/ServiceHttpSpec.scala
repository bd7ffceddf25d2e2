package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll

import graft.service.{HttpFront, QueryService}

/** E2E spec for the network-listening HTTP front
  * ([[graft.service.HttpFront]] — the FastAPI-layer twin,
  * `src/api/main.py:54-398`): every endpoint driven over a REAL
  * socket, answers asserted equal to the in-process QueryService
  * twins, FastAPI's error envelope on failure, and a 64-caller
  * concurrency pass that exercises the request-class FAIR pools
  * through live HTTP threads. */
class ServiceHttpSpec extends SparkSpec with BeforeAndAfterAll {

  private val mapper = new ObjectMapper()
  private var front: HttpFront = _
  private var base: String = _
  private lazy val client = HttpClient.newHttpClient()

  override def beforeAll(): Unit = {
    front = new HttpFront(spark, sf0001).start()
    base = s"http://127.0.0.1:${front.boundPort}"
  }

  override def afterAll(): Unit = front.stop()

  private def get(path: String): (Int, JsonNode) = {
    val resp = client.send(
      HttpRequest.newBuilder(URI.create(s"$base$path")).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), mapper.readTree(resp.body()))
  }

  private def post(path: String, body: String): (Int, JsonNode) = {
    val resp = client.send(
      HttpRequest.newBuilder(URI.create(s"$base$path"))
        .header("Content-Type", "application/json")
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), mapper.readTree(resp.body()))
  }

  test("root and health answer over the socket") {
    val (c0, root) = get("/")
    assert(c0 == 200 && root.get("status").asText() == "running")
    val (c1, h) = get("/health")
    assert(c1 == 200 && h.get("status").asText() == "healthy")
    assert(h.get("engine").asText() == s"spark-${spark.version}")
  }

  test("status, config, databases/health, metadata routes") {
    val (c0, st) = get("/api/v1/status")
    assert(c0 == 200 &&
      st.get("tables").size() == Tables.all.size)
    Tables.all.foreach(t =>
      assert(st.get("tables").get(t).asBoolean(), t))
    val (c1, cfg) = get("/api/v1/config")
    assert(c1 == 200 &&
      cfg.get("engine").get("spark_version").asText() == spark.version)
    val (c2, dbh) = get("/api/v1/databases/health")
    assert(c2 == 200 && dbh.get("overall_status").asText() == "healthy")
    val (c3, meta) = get("/api/v1/metadata/tables")
    assert(c3 == 200 && meta.get("tables").size() == Tables.all.size)
    val (c4, colls) = get("/api/v1/metadata/collections")
    assert(c4 == 200 &&
      colls.get("collections").size() == Tables.all.size)
  }

  test("query/postgres: WHERE + limit over HTTP equals the in-process twin") {
    val (code, j) =
      get("/api/v1/query/postgres?table=customer&where=c_custkey%20%3C%3D%2010&limit=100")
    assert(code == 200 && j.get("status").asText() == "success")
    assert(j.get("table").asText() == "customer")
    val twin = front.service
      .query("customer", Some("c_custkey <= 10"), 100)
    assert(j.get("count").asLong() == twin.count)
    assert(j.get("data").size() == twin.count)
    // page content equals the twin's records (same keys, same ids)
    val httpIds = (0 until j.get("data").size())
      .map(i => j.get("data").get(i).get("c_custkey").asLong()).sorted
    val twinIds = twin.records.map(_("c_custkey").asInstanceOf[Long]).sorted
    assert(httpIds == twinIds)
  }

  test("query/mongodb: JSON filter-dict conjunction over HTTP") {
    val filter = java.net.URLEncoder.encode(
      """{"o_orderstatus": "F", "o_orderpriority": "1-URGENT"}""", "UTF-8")
    val (code, j) =
      get(s"/api/v1/query/mongodb?collection=orders&filter=$filter&limit=1000")
    assert(code == 200 && j.get("collection").asText() == "orders")
    val twin = front.service.queryCollectionJson("orders",
      """{"o_orderstatus": "F", "o_orderpriority": "1-URGENT"}""", 1000)
    assert(j.get("count").asLong() == twin.count && twin.count > 0)
  }

  test("query/influxdb: absolute time range + field projection over HTTP") {
    val (code, j) = get("/api/v1/query/influxdb?measurement=events" +
      "&start=2024-01-01&stop=2024-01-08&fields=user_id,value&limit=100000")
    assert(code == 200 && j.get("measurement").asText() == "events")
    assert(j.get("time_range").asText() == "2024-01-01 to 2024-01-08")
    val expected = Tables.load(spark, sf0001, "events")
      .filter(col("ts") >= lit("2024-01-01") && col("ts") < lit("2024-01-08"))
      .count()
    assert(expected > 0 && j.get("count").asLong() == expected)
    val row0 = j.get("data").get(0)
    assert(row0.has("ts") && row0.has("user_id") && row0.has("value") &&
      !row0.has("event_type"))
    val (c2, two) = get("/api/v1/query/influxdb?measurement=events" +
      "&start=2024-01-01&stop=2024-01-08&limit=2")
    assert(c2 == 200 && two.get("count").asLong() == 2 &&
      two.get("data").size() == 2, two)
  }

  test("sql + explain extensions over HTTP") {
    val (code, j) = post("/api/v1/sql",
      """{"sql": "SELECT count(*) AS n FROM lineitem", "limit": 10}""")
    assert(code == 200)
    assert(j.get("data").get(0).get("n").asLong() ==
      Tables.load(spark, sf0001, "lineitem").count())
    val (c2, e) = post("/api/v1/explain",
      """{"sql": "SELECT c_name FROM customer WHERE c_custkey = 42"}""")
    assert(c2 == 200)
    val plan = e.get("plan").asText()
    assert(plan.contains("PushedFilters") && plan.contains("c_custkey"))
  }

  test("sql records keep the SELECT's column order") {
    import scala.jdk.CollectionConverters._
    // six columns: past the size where a Scala Map turns hash-ordered
    val (code, j) = post("/api/v1/sql",
      """{"sql": "SELECT c_mktsegment AS zeta, c_name AS alpha,
        | c_custkey AS mu, c_acctbal AS beta, c_custkey + 1 AS omega,
        | c_nationkey AS gamma FROM customer WHERE c_custkey = 42"}"""
        .stripMargin
        .replace("\n", ""))
    assert(code == 200, j)
    assert(j.get("data").get(0).fieldNames().asScala.toSeq ==
      Seq("zeta", "alpha", "mu", "beta", "omega", "gamma"))
  }

  test("data/upload loads records and reads back") {
    val out = Files.createTempDirectory("graft_http_up").toString
    val (code, j) = post("/api/v1/data/upload",
      s"""{"data": [{"id": 1, "v": "a"}, {"id": 2, "v": "b"}],
         | "target_type": "file",
         | "target_config": {"path": "$out/t", "format": "parquet"}}"""
        .stripMargin)
    assert(code == 200 && j.get("status").asText() == "success")
    assert(j.get("uploaded_count").asInt() == 2)
    assert(j.get("results").get("records_loaded").asLong() == 2L)
    val back = spark.read.parquet(s"$out/t")
    assert(back.count() == 2 &&
      back.columns.sorted.toSeq == Seq("id", "v"))
  }

  test("etl/run: table source -> cleaning -> file target, counts honest") {
    val out = Files.createTempDirectory("graft_http_etl").toString
    val (code, j) = post("/api/v1/etl/run",
      s"""{"source_type": "postgres",
         | "source_config": {"table": "events"},
         | "target_type": "file",
         | "target_config": {"path": "$out/t"},
         | "transformations": ["cleaning"]}""".stripMargin)
    assert(code == 200 && j.get("status").asText() == "success")
    val n = Tables.load(spark, sf0001, "events").count()
    assert(j.get("extracted_count").asLong() == n)
    assert(j.get("load_results").get("target").get("count").asLong() == n)
    assert(j.get("job_id").asText().startsWith("job_"))
    assert(spark.read.parquet(s"$out/t").count() == n)
  }

  test("dashboard serves HTML wired to the live endpoints; stats route counts") {
    val resp = client.send(
      HttpRequest.newBuilder(URI.create(s"$base/dashboard")).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    assert(resp.statusCode() == 200)
    assert(resp.headers().firstValue("Content-Type").orElse("")
      .startsWith("text/html"))
    val html = resp.body()
    // the page's fetch targets are real routes of THIS server
    for (route <- Seq("/health", "/api/v1/databases/health",
      "/api/v1/stats/etl", "/api/v1/sql"))
      assert(html.contains(route), route)
    assert(html.contains("status-grid"))
    // the stats route the reference's dashboard calls but its API never
    // implemented (404s there): live counters here
    val (c1, s1) = get("/api/v1/stats/etl")
    assert(c1 == 200 && s1.get("requests_served").asLong() >= 1L)
    val before = s1.get("uploads_run").asLong()
    val out = Files.createTempDirectory("graft_http_stats").toString
    val (c2, _) = post("/api/v1/data/upload",
      s"""{"data": [{"id": 9}], "target_type": "file",
         | "target_config": {"path": "$out/t"}}""".stripMargin)
    assert(c2 == 200)
    val (_, s2) = get("/api/v1/stats/etl")
    assert(s2.get("uploads_run").asLong() == before + 1)
  }

  test("error envelope: FastAPI shapes for 404 / 422 / 500") {
    val (c404, j404) = get("/api/v1/no/such/route")
    assert(c404 == 404 && j404.get("detail").asText() == "Not Found")
    val (c422, j422) = get("/api/v1/query/postgres") // missing ?table=
    assert(c422 == 422 &&
      j422.get("detail").asText().contains("table"))
    // a limit that is not a non-negative integer is a validation error,
    // from the query string and from a JSON body alike
    for ((c, j) <- Seq(
        get("/api/v1/query/postgres?table=customer&limit=-1"),
        get("/api/v1/query/mongodb?collection=orders&limit=abc"),
        get("/api/v1/query/influxdb?measurement=events&limit=-1"),
        post("/api/v1/sql", """{"sql": "SELECT 1 AS one", "limit": "abc"}"""),
        post("/api/v1/sql", """{"sql": "SELECT 1 AS one", "limit": -5}""")))
      assert(c == 422 && j.get("detail").asText().contains("limit"), j)
    val (c500, j500) =
      get("/api/v1/query/postgres?table=no_such_table")
    assert(c500 == 500 && j500.get("detail").asText().nonEmpty)
  }

  test("64 concurrent HTTP callers: correct answers, FAIR pools engaged") {
    import java.util.concurrent.{ConcurrentHashMap, Executors, TimeUnit}
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val seenPools = ConcurrentHashMap.newKeySet[String]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.scheduler.pool")))
          .foreach(seenPools.add)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val expected = Tables.load(spark, sf0001, "customer")
        .filter(col("c_custkey") <= 100).count()
      val outDir = Files.createTempDirectory("graft_http_conc").toString
      val pool = Executors.newFixedThreadPool(64)
      try {
        val calls = (1 to 64).map { i =>
          pool.submit(new java.util.concurrent.Callable[Long] {
            def call(): Long = (i % 8) match {
              case 7 => // batch-class upload through the socket
                val (c, j) = post("/api/v1/data/upload",
                  s"""{"data": [{"id": $i}], "target_type": "file",
                     | "target_config": {"path": "$outDir/u$i"}}"""
                    .stripMargin)
                assert(c == 200)
                if (j.get("results").get("records_loaded").asLong() == 1L)
                  expected
                else -1L
              case k if k % 2 == 0 =>
                val (c, j) = get("/api/v1/query/postgres?table=customer" +
                  "&where=c_custkey%20%3C%3D%20100&limit=100000")
                assert(c == 200)
                j.get("count").asLong()
              case _ =>
                val (c, j) = post("/api/v1/sql",
                  """{"sql": "SELECT count(*) AS n FROM customer WHERE c_custkey <= 100"}""")
                assert(c == 200)
                j.get("data").get(0).get("n").asLong()
            }
          })
        }
        calls.foreach(f =>
          assert(f.get(300, TimeUnit.SECONDS) == expected))
      } finally pool.shutdown()
      // both request classes reached the scheduler under their pools
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while ((!seenPools.contains(QueryService.InteractivePool) ||
        !seenPools.contains(QueryService.BatchPool)) &&
        System.nanoTime() < deadline) Thread.sleep(50)
      assert(seenPools.contains(QueryService.InteractivePool))
      assert(seenPools.contains(QueryService.BatchPool))
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
