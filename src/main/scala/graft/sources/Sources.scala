package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Source layer (SURVEY.md §2.1 S1–S8).
  *
  * The reference's extractors pull rows one dict at a time over
  * LIMIT/OFFSET pagination (`base_extractors.py:47-84`) — sequential by
  * construction. Here every source is a lazy DataFrame whose filters
  * compile to Catalyst predicates, so pushdown/pruning reach the Parquet
  * scan and parallelism comes from file splits, not pagination.
  */
object Sources {

  /** S1 — table scan with optional raw ANSI `WHERE` pushdown and limit
    * (`base_extractors.py:47-84`; the reference interpolates the WHERE
    * string into source SQL — here Spark SQL parses the same predicate
    * and Catalyst pushes it into the scan). */
  def table(spark: SparkSession, sfDir: String, name: String,
      where: Option[String] = None, limit: Option[Int] = None): DataFrame = {
    val base = graft.Tables.load(spark, sfDir, name)
    val filtered = where.fold(base)(w => base.where(expr(w)))
    limit.fold(filtered)(filtered.limit)
  }

  /** S2 — document-store scan: `filter_dict` equality conjunction
    * (`mongo_connector.py:95-116`; AND semantics per key). */
  def collection(spark: SparkSession, sfDir: String, name: String,
      filterDict: Map[String, Any] = Map.empty,
      limit: Option[Int] = None): DataFrame = {
    val base = graft.Tables.load(spark, sfDir, name)
    val filtered =
      if (filterDict.isEmpty) base
      else base.where(filterDict.map { case (k, v) => col(k) === lit(v) }
        .reduce(_ && _))
    limit.fold(filtered)(filtered.limit)
  }

  /** Relative range spec: "-1h"/"-30m"/"-7d" ago, or an ISO timestamp, or
    * "now()" (`influx_connector.py:142-152` Flux range semantics). */
  def rangeBound(spec: String, now: Column): Column = {
    val rel = "^-(\\d+)([smhdw])$".r
    spec.trim match {
      case "now()" => now
      case rel(n, u) =>
        val unit = u match {
          case "s" => "SECOND"; case "m" => "MINUTE"; case "h" => "HOUR"
          case "d" => "DAY"; case "w" => "WEEK"
        }
        now - expr(s"INTERVAL $n $unit")
      case iso => to_timestamp(lit(iso))
    }
  }

  /** S3 — time-series range scan: `[start, stop)` on the event-time
    * column plus optional measurement/field/tag filters
    * (`influx_connector.py:142-189`). `now` injectable for determinism.
    * On a time-partitioned lake table the range predicate becomes
    * partition pruning — the 100 TB path reads only matching partitions. */
  def timeRange(spark: SparkSession, sfDir: String, name: String,
      tsCol: String, start: String, stop: String = "now()",
      filters: Seq[Column] = Nil,
      now: Column = current_timestamp()): DataFrame = {
    val base = graft.Tables.load(spark, sfDir, name)
    val ranged = base.where(col(tsCol) >= rangeBound(start, now) &&
      col(tsCol) < rangeBound(stop, now))
    filters.foldLeft(ranged)(_ where _)
  }

  /** S9 — incremental (high-watermark) extraction: the CDC-style pull
    * the reference's hourly DAG approximates with relative ranges
    * (`base_extractors.py:157` `start="-1h"`). Each pull reads only
    * rows STRICTLY past the bookmark (the previous pull's max event
    * time), so re-running never re-extracts and no event is skipped —
    * provided the source's event time is append-monotonic, the same
    * assumption the watermark model makes. `None` bookmark = initial
    * full load. On a date-partitioned lake table the bookmark predicate
    * prunes to the newest partitions — the 100 TB incremental pull
    * reads only the tail, never the history. */
  def incremental(df: DataFrame, tsCol: String,
      bookmark: Option[Column]): DataFrame =
    bookmark.fold(df)(b => df.where(col(tsCol) > b))

  /** The next bookmark after a pull: max event time seen (null on an
    * empty pull — callers keep the previous bookmark then). */
  def nextBookmark(df: DataFrame, tsCol: String): Option[java.sql.Timestamp] =
    Option(df.agg(max(col(tsCol))).collect().head.getTimestamp(0))

  /** Wide→long reshape: the reference's time-series rows arrive in long
    * format `(time, field, value, tags…)` (`influx_connector.py:168-185`).
    * `stack` is a single narrow projection — no shuffle. */
  def toLong(df: DataFrame, timeCol: String, tagCols: Seq[String],
      fieldCols: Seq[String]): DataFrame = {
    val stackArgs = fieldCols.map(f => s"'$f', cast(`$f` as double)")
      .mkString(", ")
    df.select((timeCol +: tagCols).map(col) :+
      expr(s"stack(${fieldCols.size}, $stackArgs) as (field, value)"): _*)
  }

  /** Long→wide reshape via pivot (one shuffle on the group keys). */
  def toWide(df: DataFrame, timeCol: String, tagCols: Seq[String],
      fieldCol: String = "field", valueCol: String = "value"): DataFrame =
    df.groupBy((timeCol +: tagCols).map(col): _*)
      .pivot(fieldCol).agg(first(col(valueCol)))

  /** S4/S5 — file scan: csv (header, NaN→null), json (array or object),
    * jsonl/ndjson, parquet (`base_extractors.py:195-230`,
    * `common_utils.py:103-138`) — plus the two DATA-WIRE text formats
    * the production connectors speak (`influx_connector.py:82-111`,
    * `mongo_connector.py:95-116`): `lineprotocol` parses Influx line
    * protocol into the typed point frame ([[LineProtocol.parse]]) and
    * `extendedjson` parses canonical Extended JSON documents into
    * `schema` ([[ExtendedJson.parse]] — BSON wire types are
    * schema-driven, so the schema is REQUIRED there). This makes the
    * wire codecs first-class extraction sources for the config-driven
    * ETL runner, not just service endpoints. */
  def file(spark: SparkSession, path: String,
      format: Option[String] = None,
      schema: Option[org.apache.spark.sql.types.StructType] = None)
      : DataFrame = {
    val fmt = format.getOrElse(path.replaceAll(".*\\.", "")).toLowerCase
    // a supplied schema must either be HONORED or REJECTED — silently
    // ignoring it would mask a config error (a schema-expecting scan
    // quietly falling back to inference)
    def noSchema(): Unit = require(schema.isEmpty,
      s"format '$fmt' derives its own schema; the supplied schema " +
        "would be ignored — drop it or use csv/json/jsonl/parquet")
    fmt match {
      case "csv" =>
        val r = spark.read.option("header", "true")
          .option("nanValue", "NaN").option("nullValue", "")
        schema.fold(r.option("inferSchema", "true"))(r.schema).csv(path)
      case "json" => // whole-file JSON array/object, like json.load
        val r = spark.read.option("multiLine", "true")
        schema.fold(r)(r.schema).json(path)
      case "jsonl" | "ndjson" =>
        schema.fold(spark.read)(spark.read.schema).json(path)
      case "parquet" =>
        schema.fold(spark.read)(spark.read.schema).parquet(path)
      case "yaml" | "yml" => noSchema(); yaml(spark, path)
      case "xml" => noSchema(); xml(spark, path)
      // deliberately NOT widened (a Scale.widen of the line dataset
      // was measured here and reverted): the ETL consumers persist the
      // parsed frame, so the per-line parse runs once and amortizes —
      // the widen exchange was pure overhead (o8_wire_etl ×1.25).
      // Callers whose whole query IS the codec round trip widen at
      // their own head (s18/s19).
      case "lineprotocol" | "lp" => // typed Point frame, schema fixed
        noSchema(); LineProtocol.parse(spark.read.textFile(path))
      case "extendedjson" | "ejson" =>
        ExtendedJson.parse(spark.read.textFile(path),
          schema.getOrElse(throw new IllegalArgumentException(
            "extendedjson scan needs an explicit schema: BSON wire " +
              "types ($numberLong/$date/...) are schema-driven")))
      case other => throw new IllegalArgumentException(
        s"Unsupported file type: $other")
    }
  }

  /** S4 (XML) — XML dataset scan via Spark's native XML source (new in
    * Spark 4; no external package). One record per `rowTag` element,
    * schema inferred from element content exactly like the csv/json
    * paths. Unlike the YAML path this is fully distributed — the XML
    * reader splits files at row-tag boundaries, so a 100 TB stage of
    * many XML files scans in parallel like any text-based format. */
  def xml(spark: SparkSession, path: String,
      rowTag: String = "row"): DataFrame =
    spark.read.format("xml").option("rowTag", rowTag)
      .option("inferSchema", "true").load(path)

  /** S5 — YAML dataset (list of flat mappings), parsed driver-side like
    * the reference's `yaml.safe_load` path (`common_utils.py:130-134`),
    * then parallelized. YAML is a config-scale format — never 100 TB —
    * so a driver-side parse of a minimal subset (top-level `- key: value`
    * lists, scalars only) is the honest scope without adding deps. */
  def yaml(spark: SparkSession, path: String): DataFrame = {
    val lines = scala.io.Source.fromFile(path).getLines().toList
    val records = scala.collection.mutable.Buffer.empty[Map[String, String]]
    var current = Map.empty[String, String]
    val item = "^-\\s+(\\w+):\\s*(.*)$".r
    val field = "^\\s+(\\w+):\\s*(.*)$".r
    lines.foreach {
      case item(k, v) =>
        if (current.nonEmpty) records += current
        current = Map(k -> stripQuotes(v))
      case field(k, v) if current.nonEmpty => current += k -> stripQuotes(v)
      case _ =>
    }
    if (current.nonEmpty) records += current
    val keys = records.flatMap(_.keys).distinct.sorted.toList
    import spark.implicits._
    val rows = records.toList.map(r => keys.map(k => r.get(k).orNull))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(org.apache.spark.sql.Row(_: _*))),
      StructType(keys.map(k => StructField(k, StringType, nullable = true))))
    df
  }

  private def stripQuotes(s: String): String = {
    val t = s.trim
    if (t.length >= 2 && ((t.head == '"' && t.last == '"') ||
      (t.head == '\'' && t.last == '\''))) t.substring(1, t.length - 1)
    else t
  }

  /** S6 — API payload: a driver-fetched JSON body → DataFrame with
    * `data`/`results`/`items` envelope unwrapping
    * (`base_extractors.py:245-275`). This entry point takes the body so
    * the unwrap logic is testable hermetically; [[api]] is the live
    * variant that performs the GET itself. */
  def apiBody(spark: SparkSession, body: String): DataFrame = {
    import spark.implicits._
    val raw = spark.read.option("multiLine", "true")
      .json(spark.createDataset(Seq(body)))
    val cols = raw.columns.toSet
    val envelope = Seq("data", "results", "items").find { k =>
      cols.contains(k) && raw.schema(k).dataType.isInstanceOf[ArrayType]
    }
    envelope match {
      case Some(k) =>
        raw.select(explode(col(k)).as("__rec")).select(col("__rec.*"))
      case None => raw
    }
  }

  /** S11 — error-tolerant ingestion with quarantine: malformed records
    * land in a corrupt-capture column instead of failing the job or
    * silently vanishing (the engine-native form of the reference's
    * clean-then-validate pass: PERMISSIVE parse + `_corrupt_record`).
    * Returns (clean, quarantined) — clean rows typed to `schema`,
    * quarantined rows as raw text for repair/replay. One scan feeds
    * both sides (the split is a filter, not a re-read). At 100 TB a
    * poison file costs its bad LINES, not the pipeline. */
  def jsonWithQuarantine(spark: SparkSession, path: String,
      schema: StructType): (DataFrame, DataFrame) = {
    val withCapture = StructType(schema.fields :+
      StructField("_corrupt_record", StringType, nullable = true))
    val parsed = spark.read
      .schema(withCapture)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(path)
      // Spark requires a materialization barrier between the corrupt
      // column's population and filters that reference it
      .cache()
    val clean = parsed.filter(col("_corrupt_record").isNull)
      .drop("_corrupt_record")
    val quarantined = parsed.filter(col("_corrupt_record").isNotNull)
      .select(col("_corrupt_record").as("raw"))
    (clean, quarantined)
  }

  /** S6 live fetch — GET with query params and headers, raise on
    * non-2xx, bounded retry with exponential backoff
    * (`base_extractors.py:245-253` `requests.get` + `raise_for_status`,
    * hardened with the retry loop a production pull needs). Retries
    * cover transport errors and 5xx/429 (transient); other 4xx fail
    * fast — a malformed request won't heal by retrying. Driver-side by
    * design: one API payload is driver-scale, and the DataFrame fan-out
    * happens in [[apiBody]]. For bulk HTTP ingestion, partition the URL
    * list and call this per-partition instead. */
  /** Non-2xx response; `permanent` = a 4xx (other than 429) that a
    * retry cannot fix. */
  final class HttpStatusException(val code: Int, url: String)
      extends java.io.IOException(s"HTTP $code from $url") {
    def permanent: Boolean = code >= 400 && code < 500 && code != 429
  }

  private def sendOnce(url: String, headers: Map[String, String],
      params: Map[String, String], timeout: java.time.Duration)
      : (Int, String) = {
    import java.net.http.{HttpClient, HttpRequest, HttpResponse}
    val query =
      if (params.isEmpty) ""
      else params.map { case (k, v) =>
        java.net.URLEncoder.encode(k, "UTF-8") + "=" +
          java.net.URLEncoder.encode(v, "UTF-8")
      }.mkString(if (url.contains("?")) "&" else "?", "&", "")
    val client = HttpClient.newBuilder().connectTimeout(timeout).build()
    var builder = HttpRequest.newBuilder()
      .uri(java.net.URI.create(url + query)).timeout(timeout).GET()
    headers.foreach { case (k, v) => builder = builder.header(k, v) }
    val resp = client.send(builder.build(),
      HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }

  def httpGet(url: String, headers: Map[String, String] = Map.empty,
      params: Map[String, String] = Map.empty,
      timeout: java.time.Duration = java.time.Duration.ofSeconds(10),
      retries: Int = 3, backoffMs: Long = 200): String = {
    var attempt = 0
    var lastErr: Throwable = null
    while (attempt <= retries) {
      if (attempt > 0) Thread.sleep(backoffMs << (attempt - 1))
      try {
        val (code, body) = sendOnce(url, headers, params, timeout)
        if (code >= 200 && code < 300) return body
        val err = new HttpStatusException(code, url)
        if (err.permanent) throw err // won't heal: fail fast
        lastErr = err // 5xx / 429: transient, retry
      } catch {
        case e: HttpStatusException if e.permanent => throw e
        case e: java.io.IOException => lastErr = e
      }
      attempt += 1
    }
    throw new java.io.IOException(
      s"GET $url failed after ${retries + 1} attempts", lastErr)
  }

  /** S6 — live REST extraction: GET + raise-for-status + envelope
    * unwrap in one call (`base_extractors.py:245-275`). */
  def api(spark: SparkSession, url: String,
      headers: Map[String, String] = Map.empty,
      params: Map[String, String] = Map.empty): DataFrame =
    apiBody(spark, httpGet(url, headers, params))

  /** S7 — source validation / health probe
    * (`base_extractors.py:86-94` etc.): connectivity = can we plan and
    * touch one row. */
  def validateSource(df: => DataFrame): Boolean =
    scala.util.Try(df.limit(1).count()).isSuccess

  /** S7 for APIs (`base_extractors.py:277-283`): reachability probe —
    * any well-formed HTTP response (even 4xx/5xx) proves the endpoint
    * is alive, mirroring the reference's HEAD-based check. */
  def validateApi(url: String,
      headers: Map[String, String] = Map.empty): Boolean =
    try { sendOnce(url, headers, Map.empty,
      java.time.Duration.ofSeconds(10)); true }
    catch { case _: Throwable => false }

  /** S8 — schema discovery (`postgres_connector.py:127-145`,
    * `mongo_connector.py:205-212`, `influx_connector.py:229-272`). */
  def listTables(spark: SparkSession): Seq[String] =
    spark.catalog.listTables().collect().map(_.name).toSeq.sorted

  def tableSchema(df: DataFrame): Seq[(String, String)] =
    df.schema.fields.map(f => f.name -> f.dataType.simpleString).toSeq
}
