package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the DuckDB compare (`tools/check.py`).
  * `SPARK_GRAFT_ONLY` narrows the queries as it does for [[Bench]]. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // shuffle/spill on the fast scratch volume, same resolution as
    // the query-surface scratch (see Utils.scratchBase)
    val spark = Session("graft-verify", Map("spark.local.dir" ->
      graft.etl.Utils.tempDir("graft_local").toString))
    new java.io.File(outDir).mkdirs()
    Bench.selected().foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      Bench.json(SparkEntry.oracleSql))
    spark.stop()
  }
}
