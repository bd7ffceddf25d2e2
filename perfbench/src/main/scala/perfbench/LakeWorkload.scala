package perfbench

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry

import Json._

/** lake_queries: one client running judged queries through
  * `SparkEntry.queries` into the noop sink, in a seeded order per pass.
  *
  * The warm-up pass writes every result as Parquet for the oracle check.
  * Both passes observe each result's row count and an order-free row
  * hash on the way into their sink, so every timed output is checked
  * against the oracle-checked warm-up output. */
final class LakeWorkload(spark: SparkSession, tracer: Tracer,
    spec: Map[String, Any]) extends Workload {
  private val work = spec.str("work")
  private val lakeDir = spec.obj("lake").str("dir")
  private val order = spec.arr("order").map(_.asInstanceOf[Vector[Any]]
    .map(_.toString))
  private val family: Map[String, String] = spec.obj("families").toSeq
    .flatMap { case (f, qs) => qs.asInstanceOf[Vector[Any]]
      .map(q => q.toString -> f) }.toMap
  private val outDir = s"$work/lake_out"
  /** Timed passes run even past the deadline, so every query has a
    * median of at least this many samples. */
  private val MinPasses = 2

  /** count + order-independent row hash; both compare across plans. */
  private def digest(df: DataFrame): Seq[Column] = Seq(
    count(lit(1)).as("rows"),
    coalesce(sum(pmod(xxhash64(df.columns.map(c => df.col(s"`$c`")).toIndexedSeq: _*),
      lit(1000000007L))), lit(0L)).as("hash"))

  private var warmMs = Map.empty[String, Double]
  private var warmDigests = Map.empty[String, Map[String, Any]]

  private def warmOne(q: String): (String, Double, Map[String, Any]) = {
    val t0 = System.nanoTime()
    val df = SparkEntry.queries(q)(spark, lakeDir)
    val obs = Observation(s"perfbench_warm_$q")
    val d = digest(df)
    df.observe(obs, d.head, d.tail: _*)
      .write.mode("overwrite").parquet(s"$outDir/$q")
    (q, (System.nanoTime() - t0) / 1e6,
      Map("rows" -> obs.get("rows"), "hash" -> obs.get("hash")))
  }

  /** Runs every query once, in the first pass's order, writing its
    * result for the oracle check. */
  def warmup(): Unit = {
    val oracle = SparkEntry.oracleSql
    Json.writeFile(s"$work/oracle_sql.json",
      family.keys.toSeq.sorted.map(q => q -> oracle.getOrElse(q, null)).toMap)
    val done = order.head.map(warmOne)
    warmMs = done.map(d => d._1 -> d._2).toMap
    warmDigests = done.map(d => d._1 -> d._3).toMap
  }

  def run(seconds: Double): Map[String, Any] = {
    val start = tracer.nowNs
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val samples = Vector.newBuilder[Map[String, Any]]
    var failures = Vector.empty[String]
    var attempted = 0
    var pass = 1
    while (pass <= MinPasses || System.nanoTime() < deadline) {
      order(pass % order.size).foreach { q =>
        attempted += 1
        val op = s"p$pass-$q"
        val ticks0 = Cpu.ticks()
        val t0 = System.nanoTime()
        try {
          val obs = Observation(s"perfbench_$pass")
          tracer.span(q, s"queries.${family(q)}", op) {
            val df = SparkEntry.queries(q)(spark, lakeDir)
            val d = digest(df)
            df.observe(obs, d.head, d.tail: _*)
              .write.format("noop").mode("overwrite").save()
          }
          val ms = (System.nanoTime() - t0) / 1e6
          val steal = Cpu.stealShare(ticks0, Cpu.ticks())
          val m = obs.get
          samples += Map("query" -> q, "family" -> family(q), "pass" -> pass,
            "ms" -> ms, "steal" -> steal, "rows" -> m("rows"),
            "hash" -> m("hash"))
        } catch { case e: Exception =>
          failures :+= s"$op: ${e.getClass.getSimpleName}: ${e.getMessage}" }
      }
      pass += 1
    }
    val window = tracer.threadWindow(start, attempted)
    val end = tracer.nowNs
    Map("out_dir" -> outDir, "samples" -> samples.result(),
      "attempted" -> attempted, "failures" -> failures,
      "threads" -> Vector(window),
      "passes" -> (pass - 1), "warm_digests" -> warmDigests, "warm_ms" -> warmMs,
      "timed_wall_ms" -> (end - start) / 1e6) ++
      (if (tracer.enabled) Map("spans" -> tracer.spanRecords(),
        "window" -> tracer.window(start, end)) else Map.empty)
  }
}
