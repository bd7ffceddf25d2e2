package graft

import java.sql.Timestamp

import org.apache.spark.SparkConf
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.graftx.GraftExtensions

import graft.etl.{EtlJob, QualityReport, Utils}
import graft.sinks.Sinks
import graft.transform.{Cleaning, FieldRule, Stamp}
import graft.validate._

/** The spec session is the deployment session: [[TestSpark]] differs
  * from what [[Session]] builds only in master and shuffle partitions,
  * so a hand-built test session, or a default the factory drops, fails
  * here. The session also keeps the engine's generated-code cache size,
  * so a repeated ETL cycle compiles its generated classes only once. */
class SessionSpec extends SparkSpec {

  test("spec session carries graft.Session's defaults, apart from " +
      "master and shuffle partitions") {
    val defaults = Session.conf("graft-test") --
      Seq("spark.master", "spark.sql.shuffle.partitions")
    assert(defaults.keySet === Set("spark.app.name", "spark.scheduler.mode",
      "spark.sql.extensions", "spark.sql.session.timeZone",
      "spark.ui.enabled"))
    defaults.foreach { case (k, v) =>
      assert(spark.conf.getOption(k) === Some(v), k)
    }
    assert(spark.sparkContext.master === "local[4]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") === "4")
  }

  test("shuffle partitions follow the master's cores") {
    assert(Session.cores("local[4]") === 4)
    assert(Session.cores("local[*]") === Session.cpus)
    assert(Session.conf("x", Map("spark.master" -> "local[3]"))
      .apply("spark.sql.shuffle.partitions") === "3")
    assert(Session.conf("x", Map("spark.master" -> "local[3]",
      "spark.sql.shuffle.partitions" -> "7"))
      .apply("spark.sql.shuffle.partitions") === "7")
  }

  test("graft SQL functions resolve with no explicit registration") {
    // a new session starts from an empty function registry: only the
    // extension can have put these there
    val s = spark.newSession()
    val r = s.sql(
      """SELECT cosine_similarity(array(1.0d, 0.0d), array(1.0d, 0.0d)) AS c,
        |       jaro_winkler('martha', 'marhta') AS jw,
        |       space_saving_topk(x, 8, 1)[0].item AS top
        |FROM VALUES ('a'), ('b'), ('a') AS v(x)""".stripMargin).head()
    assert(r.getDouble(0) === 1.0)
    assert(math.abs(r.getDouble(1) - 0.9611111111111111) < 1e-12)
    assert(r.getString(2) === "a")
  }

  test("the session keeps the engine's generated-code cache size; a " +
      "conf that names the key keeps its own") {
    val key = GraftExtensions.CodegenCacheKey
    assert(spark.conf.get(key) === "1000")
    assert(GraftExtensions.codegenCache(new SparkConf(false)) === "1000")
    assert(GraftExtensions.codegenCache(
      new SparkConf(false).set(key, "64")) === "64")
  }

  test("a repeated four-schema ETL cycle compiles no generated code") {
    import spark.implicits._
    val ts = Timestamp.valueOf("2024-01-01 10:00:00")
    val sources: Seq[(String, DataFrame, Map[String, FieldRule],
        (String, Double, Double))] = Seq(
      ("transactions",
        Seq((1L, " A@X.COM ", 12.5, ts), (2L, null, -3.0, ts),
          (3L, "c@x.com", 2e6, ts))
          .toDF("transaction_id", "customer_email", "amount", "ts"),
        Map("customer_email" -> FieldRule(required = true,
          typ = Some("email")),
          "amount" -> FieldRule(min = Some(0.0), max = Some(1e6))),
        ("amount", 0.0, 1e6)),
      ("events",
        Seq((1L, Option(7L), "click", 3.0, ts), (2L, None, "view", -1.0, ts))
          .toDF("event_id", "user_id", "event_type", "value", "ts"),
        Map("user_id" -> FieldRule(required = true),
          "value" -> FieldRule(min = Some(0.0), max = Some(1e4))),
        ("value", 0.0, 1e4)),
      ("device_log",
        Seq(("h1", "eu", 21.5, 0.3, 1L, "ok", ts),
          (null, "us", 400.0, 0.9, 2L, "warn", ts))
          .toDF("host", "region", "temp", "load", "seq", "status", "ts"),
        Map("host" -> FieldRule(required = true),
          "temp" -> FieldRule(min = Some(-50.0), max = Some(150.0))),
        ("temp", -50.0, 150.0)),
      ("profiles",
        Seq(("ann", "ANN@X.COM", "31", "france", "555-0100"),
          ("bob", "", "200", "spain", null))
          .toDF("name", "email", "age", "country", "phone"),
        Map("email" -> FieldRule(required = true, typ = Some("email")),
          "age" -> FieldRule(typ = Some("integer"), min = Some(0.0),
            max = Some(150.0))),
        ("age", 0.0, 150.0)))
    val lake = Utils.tempDir("graft_codegen_cycle").toString
    def pass(): Long = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      sources.foreach { case (name, df, rules, (field, lo, hi)) =>
        val src = df.withColumn("_source", lit(name))
        val typed = Cleaning(Cleaning.inferCoercions(src), Stamp.off)(src)
        val result = EtlJob(_ => typed,
          Seq("cleaning", "validation", "enrichment", "normalization"),
          rules, Sinks.standardRoutes(s"$lake/$name")).run(spark)
        QualityReport.write(QualityReport.build(spark, name,
          Map(name -> result.recordsProcessed), result, 1.0),
          s"$lake/quality_report")
        ValidationPipeline(Seq(SchemaValidator(rules), QualityValidator(),
          BusinessRuleValidator(Seq(RangeRule(s"${field}_range", field,
            Some(lo), Some(hi)))))).validate(typed)
      }
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    val first = pass()
    assert(first > 0)
    assert(pass() === 0L, s"(the first pass compiled $first classes)")
  }
}
