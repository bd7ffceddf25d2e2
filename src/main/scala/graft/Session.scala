package graft

import org.apache.spark.sql.SparkSession

/** The one session factory: every main (and the spec session) builds
  * its `SparkSession` here, so the benched, verified, gated and served
  * engine is one configuration. The defaults are the deployment
  * settings of [[graft.service.ServeMain]]:
  *
  *  - master `SPARK_MASTER`, else `local[$SPARK_GRAFT_CPUS]`, where
  *    `SPARK_GRAFT_CPUS` defaults to every available processor;
  *  - shuffle partitions equal to the master's core count;
  *  - FAIR scheduling, so request classes that name a pool (as
  *    `QueryService` does) share the executors; jobs without a pool go
  *    to the default pool, which Spark 4.1 also runs FAIR;
  *  - [[org.apache.spark.sql.graftx.GraftExtensions]], UTC, UI off and
  *    log level WARN. The extension also sizes the codegen cache, for
  *    sessions built without this factory too.
  *
  * No key is set to the value Spark already defaults to (adaptive
  * execution, for one, is on by default). Callers pass only the keys
  * they must change, e.g. `spark.local.dir` for Bench and Verify.
  */
object Session {
  /** `SPARK_GRAFT_CPUS`, else every available processor. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  private val LocalN = raw"local\[(\d+)\]".r

  /** Core count of a master URL: N for `local[N]`, else [[cpus]]. */
  def cores(master: String): Int = master match {
    case LocalN(n) => n.toInt
    case _ => cpus
  }

  /** The conf [[apply]] builds with: the defaults, then `overrides`.
    * Shuffle partitions follow the overridden master unless they are
    * overridden too. */
  def conf(appName: String,
      overrides: Map[String, String] = Map.empty): Map[String, String] = {
    val master = overrides.getOrElse("spark.master",
      sys.env.getOrElse("SPARK_MASTER", s"local[$cpus]"))
    Map(
      "spark.master" -> master,
      "spark.app.name" -> appName,
      "spark.sql.shuffle.partitions" -> cores(master).toString,
      "spark.scheduler.mode" -> "FAIR",
      "spark.sql.extensions" -> "org.apache.spark.sql.graftx.GraftExtensions",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false") ++ overrides
  }

  def apply(appName: String,
      overrides: Map[String, String] = Map.empty): SparkSession = {
    val spark = conf(appName, overrides)
      .foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
