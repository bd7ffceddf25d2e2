package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sinks.Sinks
import graft.transform._

/** ETL job runner (SURVEY.md §2.10 O2 — `src/api/main.py:224-280`).
  *
  * The reference's flagship "query": source → transformation chain →
  * routed load, with counts and per-transformer stats. The reference
  * pulls every record through an async iterator into a driver-side list;
  * here the whole job is one lazy Spark plan — extraction, transforms and
  * sink writes pipeline through executors, and the only driver-side
  * values are the counters. The routes load through
  * [[Sinks.routeAndLoad]], so each must target its own path: data-target
  * routes (such as [[Sinks.standardRoutes]]) land in one write job, each
  * closure route runs its own. The processed count is the `archive`
  * route's count observed during that write (the largest route count
  * without one), never a separate scan.
  */
final case class EtlResult(
    recordsProcessed: Long,
    stagesApplied: Seq[String],
    stageErrors: Seq[String],
    loadResults: Map[String, Sinks.LoadResult])

final case class EtlJob(
    source: SparkSession => DataFrame,
    transformations: Seq[String] = Nil,
    validationRules: Map[String, FieldRule] = Map.empty,
    routes: Seq[Sinks.Route] = Nil,
    stamp: Stamp = Stamp.on) {

  /** Resolve transformation names the way the API layer does
    * (`src/api/main.py:243-249`: 'cleaning' | 'validation', extended with
    * the other reference transformers). */
  def resolve(name: String): Transformer = name match {
    case "cleaning"      => Cleaning(stamp = stamp)
    case "validation"    => Validation(validationRules, stamp = stamp)
    case "enrichment"    => Enrichment(stamp = stamp)
    case "normalization" => Normalization()
    case other => throw new IllegalArgumentException(
      s"Unknown transformation: $other")
  }

  def run(spark: SparkSession): EtlResult = {
    val extracted = source(spark)
    val pipeline = Pipeline(transformations.map(resolve))
    val (transformed, errs) = pipeline.run(extracted)
    val loads =
      if (routes.isEmpty) Map.empty[String, Sinks.LoadResult]
      else Sinks.routeAndLoad(transformed, routes)
    val processed =
      if (routes.isEmpty) transformed.count()
      else loads.get("archive").map(_.count)
        .getOrElse(loads.values.map(_.count).maxOption.getOrElse(0L))
    EtlResult(processed, transformations, errs, loads)
  }
}

/** O5 — quality report (`multi_source_ingestion_dag.py:323-356`): per-run
  * metrics written as a JSON line to the lake. Unlike the reference,
  * success-rate and duration are measured, not hard-coded placeholders
  * (`:339-344`). */
object QualityReport {
  def build(spark: SparkSession, runId: String,
      extractedCounts: Map[String, Long], result: EtlResult,
      durationSec: Double): DataFrame = {
    import spark.implicits._
    val totalExtracted = extractedCounts.values.sum
    val totalLoaded = result.loadResults.values
      .filter(_.status == "success").map(_.count).sum
    val successRate =
      if (totalExtracted == 0) 1.0
      else result.recordsProcessed.toDouble / totalExtracted
    Seq((
      runId, totalExtracted, result.recordsProcessed, totalLoaded,
      successRate, durationSec,
      if (durationSec > 0) result.recordsProcessed / (durationSec / 60.0)
      else 0.0,
      result.stageErrors.mkString("; ")
    )).toDF("run_id", "records_extracted", "records_processed",
      "records_loaded", "success_rate", "duration_sec",
      "records_per_minute", "stage_errors")
  }

  def write(report: DataFrame, path: String): Unit =
    report.coalesce(1).write.mode("append").json(path)
}
