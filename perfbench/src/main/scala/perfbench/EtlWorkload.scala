package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.etl.{EtlJob, EtlResult, Incremental, QualityReport}
import graft.sinks.Sinks
import graft.sources.Sources
import graft.transform.{Cleaning, FieldRule, Stamp, Validation}
import graft.validate._

import Json._

/** etl_hourly: one hourly DAG cycle at a time (the DAG never overlaps
  * itself). Per source: extract, infer coercions, `EtlJob` with the
  * standard routes into the source's own lake prefix, and a
  * `ValidationPipeline`; once per cycle an additive merge of the hourly
  * rollup into the daily table and a quality report. */
final class EtlWorkload(spark: SparkSession, tracer: Tracer,
    spec: Map[String, Any]) extends Workload {
  import EtlWorkload._

  private val manifest = spec.obj("etl")
  private val sources = manifest.arr("sources").map(_.toString)
  private val cycles = manifest.objs("cycles")
  private val work = spec.str("work")

  private def extract(src: String, path: String): DataFrame = {
    val raw = src match {
      case "transactions" => Sources.file(spark, path, Some("parquet"))
      case "events" =>
        Sources.file(spark, path, Some("extendedjson"), Some(EventSchema))
      case "device_log" =>
        Sources.file(spark, path, Some("lineprotocol")).select(
          col("tags").getItem("host").as("host"),
          col("tags").getItem("region").as("region"),
          col("fields_double").getItem("temp").as("temp"),
          col("fields_double").getItem("load").as("load"),
          col("fields_long").getItem("seq").as("seq"),
          col("fields_str").getItem("status").as("status"),
          col("time").as("ts"))
      case "profiles" => Sources.file(spark, path, Some("csv"))
    }
    raw.withColumn("_source", lit(src))
  }

  /** One cycle into `lake`; returns what the output checks need. The
    * sources run one after another, as the DAG's tasks do; `parallel`
    * runs them side by side (the warm-up only, where first-touch costs
    * are paid and nothing is timed or checked). */
  private def cycle(c: Map[String, Any], lake: String, op: String,
      parallel: Boolean = false): Map[String, Any] =
    tracer.span("cycle", "cycle", op) {
    val t0 = System.nanoTime()
    val ticks0 = Cpu.ticks()
    val files = c.obj("files")
    def perSourceRun(src: String) = {
      val extracted = tracer.span("Sources.file", "sources", op)(
        extract(src, files.str(src)))
      val typed = tracer.span("Cleaning.inferCoercions", "transform", op) {
        Cleaning(Cleaning.inferCoercions(extracted), Stamp.off)(extracted)
      }
      val job = EtlJob(_ => typed,
        Seq("cleaning", "validation", "enrichment", "normalization"),
        Rules(src), Sinks.standardRoutes(s"$lake/$src"))
      val t1 = System.nanoTime()
      val res = tracer.span("EtlJob.run", "sinks", op)(job.run(spark))
      val etlMs = (System.nanoTime() - t1) / 1e6
      val pipeline = ValidationPipeline(Seq(SchemaValidator(Rules(src)),
        QualityValidator(),
        BusinessRuleValidator(Seq(RangeRule(s"${Ranged(src)._1}_range",
          Ranged(src)._1, Some(Ranged(src)._2), Some(Ranged(src)._3))))))
      val reports = tracer.span("ValidationPipeline.validate", "validate", op)(
        pipeline.validate(typed))
      (src, typed, res, reports, etlMs)
    }
    val perSource =
      if (!parallel) sources.map(perSourceRun)
      else Parallel.all(sources.map(src => () => perSourceRun(src)))
    val partial = perSource.map { case (src, typed, _, _, _) =>
      Validation(Rules(src), Stamp.off)(typed).select(
        col("_source"), lit(c.str("day")).as("day"), lit(1L).as("rows"),
        when(col("_is_valid"), 0L).otherwise(1L).as("invalid_rows"))
    }.reduce(_ unionByName _)
      .groupBy("_source", "day")
      .agg(sum("rows").as("rows"), sum("invalid_rows").as("invalid_rows"))
    tracer.span("Incremental.mergeAdditive", "etl.merge", op)(
      Incremental.mergeAdditive(spark, s"$lake/rollup_daily", partial,
        Seq("_source", "day")))
    val combined = EtlResult(perSource.map(_._3.recordsProcessed).sum,
      perSource.head._3.stagesApplied, perSource.flatMap(_._3.stageErrors),
      perSource.flatMap { case (src, _, r, _, _) =>
        r.loadResults.map { case (k, v) => s"$src/$k" -> v } }.toMap)
    tracer.span("QualityReport.write", "etl.report", op) {
      val report = QualityReport.build(spark, op,
        perSource.map(p => p._1 -> p._3.recordsProcessed).toMap, combined,
        (System.nanoTime() - t0) / 1e9)
      QualityReport.write(report, s"$lake/quality_report")
    }
    Map(
      "index" -> c("index"),
      "op" -> op,
      "wall_ms" -> (System.nanoTime() - t0) / 1e6,
      "steal" -> Cpu.stealShare(ticks0, Cpu.ticks()),
      "etl_job_ms" -> perSource.map(_._5),
      "processed" -> perSource.map(p => p._1 -> p._3.recordsProcessed).toMap,
      "loads" -> perSource.map { case (src, _, r, _, _) =>
        src -> r.loadResults.map { case (k, v) =>
          k -> Map("status" -> v.status, "count" -> v.count) } }.toMap,
      "validation" -> perSource.map { case (src, _, _, reps, _) =>
        src -> reps.map { case (v, rep) =>
          v -> Map("valid" -> rep.isValid, "errors" -> rep.errors) } }.toMap)
  }

  /** The warm-up hour with the sources side by side, where first-touch
    * costs are paid, into a lake the checks never read. */
  def warmup(): Unit =
    cycle(manifest.obj("warmup"), s"$work/lake_warm", "warmup",
      parallel = true)

  def run(seconds: Double): Map[String, Any] = {
    val lake = s"$work/lake_etl"
    val start = tracer.nowNs
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val done = Vector.newBuilder[Map[String, Any]]
    var failures = Vector.empty[String]
    var i = 0
    var lastNs = 0L
    // a cycle starts only if, at the last cycle's pace, it ends by the
    // deadline, so a cycle near the run length does not make the cycle
    // count (and with it the warmth of the cycles measured) vary by run
    while (i == 0 || System.nanoTime() + lastNs <= deadline) {
      val c = cycles(i % cycles.size)
      val t0 = System.nanoTime()
      try done += cycle(c, lake, s"cycle-$i")
      catch { case e: Exception =>
        failures :+= s"cycle-$i: ${e.getClass.getSimpleName}: ${e.getMessage}" }
      lastNs = System.nanoTime() - t0
      i += 1
    }
    val window = tracer.threadWindow(start, i)
    val end = tracer.nowNs
    Map("lake" -> lake, "cycles" -> done.result(), "attempted" -> i,
      "failures" -> failures, "threads" -> Vector(window),
      "timed_wall_ms" -> (end - start) / 1e6) ++
      (if (tracer.enabled) Map("spans" -> tracer.spanRecords(),
        "window" -> tracer.window(start, end)) else Map.empty)
  }
}

object EtlWorkload {
  val EventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("user_id", LongType),
    StructField("event_type", StringType), StructField("value", DoubleType),
    StructField("ts", TimestampType)))

  /** Field rules per source: one required field and one ranged field,
    * the two the generator injects nulls and out-of-range values into. */
  val Rules: Map[String, Map[String, FieldRule]] = Map(
    "transactions" -> Map(
      "customer_email" -> FieldRule(required = true, typ = Some("email")),
      "amount" -> FieldRule(min = Some(0.0), max = Some(1000000.0))),
    "events" -> Map(
      "user_id" -> FieldRule(required = true),
      "value" -> FieldRule(min = Some(0.0), max = Some(10000.0))),
    "device_log" -> Map(
      "host" -> FieldRule(required = true),
      "temp" -> FieldRule(min = Some(-50.0), max = Some(150.0))),
    "profiles" -> Map(
      "email" -> FieldRule(required = true, typ = Some("email")),
      "age" -> FieldRule(typ = Some("integer"), min = Some(0.0),
        max = Some(150.0))))

  /** The ranged field per source, as a business rule (field, min, max). */
  val Ranged: Map[String, (String, Double, Double)] = Map(
    "transactions" -> ("amount", 0.0, 1000000.0),
    "events" -> ("value", 0.0, 10000.0),
    "device_log" -> ("temp", -50.0, 150.0),
    "profiles" -> ("age", 0.0, 150.0))
}
