package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.similarity.Ann

/** Model-based property test for the IVF index LIFECYCLE under random
  * op interleavings: any seeded sequence of {append-batch, delete,
  * vacuum} must leave the index answering probes exactly like a
  * NEVER-LIFECYCLED index built fresh from the model's live set with
  * the same codebook. This generalizes the pointwise suites (append ≡
  * rebuild, purge ≡ never-indexed, vacuum idempotence) to arbitrary
  * histories — the shape a long-lived 100 TB index actually
  * experiences: interleaved ingest, takedowns, and maintenance. */
class IndexLifecyclePropertySpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb: DataFrame =
    spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))

  test("random append/delete/vacuum interleavings ≡ a never-lifecycled " +
      "rebuild of the live set, after every op") {
    val queries = emb.filter(col("vec_id") < 4)
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(1000 + seed)
      val tmp = Files.createTempDirectory(s"graft_ilp$seed")
      val idx = tmp.resolve("idx").toString
      Ann.buildIvfIndex(emb.filter(col("vec_id") < 120), "embedding",
        "vec_id", idx, nlist = 6)
      val codebook = spark.read.parquet(s"$idx/codebook")
        .orderBy(col("cell")).collect().map(_.getSeq[Double](1).toArray)
      // the model: which vec_ids are live
      var live = (0L until 120L).toSet
      var nextLo = 120L
      var batchId = 0L
      val ops = Seq.fill(6)(rnd.nextInt(3))
      for ((op, step) <- ops.zipWithIndex) {
        op match {
          case 0 => // append a fresh batch through the streaming form
            val hi = nextLo + 20L
            Ann.appendIvfBatch(spark,
              emb.filter(col("vec_id") >= nextLo && col("vec_id") < hi),
              "embedding", "vec_id", idx, batchId)
            live ++= (nextLo until hi)
            nextLo = hi; batchId += 1
          case 1 => // take down a random slice of whatever is live
            val victims = live.toSeq.sorted
              .filter(_ => rnd.nextDouble() < 0.15)
            if (victims.nonEmpty) {
              Ann.deleteFromIvfIndex(victims.toDF("vec_id"), "vec_id", idx)
              live --= victims
            }
          case 2 =>
            Ann.vacuumIvfIndex(spark, idx)
        }
        // fresh, never-lifecycled index over the model's live set,
        // same codebook => identical cell assignment
        val fresh = tmp.resolve(s"fresh$step").toString
        Ann.buildIvfIndex(
          emb.filter(col("vec_id").isin(live.toSeq: _*)),
          "embedding", "vec_id", fresh, nlist = 6,
          codebook = Some(codebook))
        val got = Ann.ivfIndexTopK(spark, queries, "embedding", "vec_id",
            idx, k = 4, nprobe = 3)
          .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
        val want = Ann.ivfIndexTopK(spark, queries, "embedding", "vec_id",
            fresh, k = 4, nprobe = 3)
          .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
        assert(got === want,
          s"seed=$seed step=$step ops=${ops.take(step + 1)} " +
            s"live=${live.size}")
      }
    }
  }
}
