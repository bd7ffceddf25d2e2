package graft

import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.similarity.Ann

/** The streaming IVF-index lifecycle ([[Ann.appendIvfBatch]] /
  * [[Ann.ivfIndexTopK]] / [[graft.streaming.Streaming.ivfIngestStream]]):
  * the streamed index must equal the one-shot inline route for ANY
  * batch split, a replayed stream must leave the increment log
  * byte-identical (exactly-once via dynamic partition overwrite), and
  * the base postings must never be rewritten by ingest. */
class IvfIngestSpec extends SparkSpec {

  private def emb: DataFrame =
    spark.read.parquet(s"$sf0001/embeddings.parquet")

  /** Stage `df` as one parquet file with a pinned mtime so
    * maxFilesPerTrigger=1 yields a deterministic batch schedule. */
  private def stageOne(df: DataFrame, dst: Path, mtime: Long): Unit = {
    val gen = Files.createTempDirectory("graft_ivf_stage")
    df.coalesce(1).write.mode("overwrite").parquet(gen.toString)
    val part = Files.list(gen).iterator().asScala
      .find(_.toString.endsWith(".parquet")).get
    Files.copy(part, dst)
    Files.setLastModifiedTime(dst, FileTime.fromMillis(mtime))
    ()
  }

  /** Run the ingest stream over the staged files dir. */
  private def runStream(stage: Path, idx: String, ckpt: Path): Unit = {
    val fresh = emb.filter(col("vec_id") >= 300)
      .select(col("vec_id"), col("embedding"))
    val stream = spark.readStream.schema(fresh.schema)
      .option("maxFilesPerTrigger", 1).parquet(stage.toString)
    val q = graft.streaming.Streaming.ivfIngestStream(stream,
      "embedding", "vec_id", idx, ckpt.toString).start()
    q.awaitTermination()
  }

  private def probe(idx: String): Seq[(Long, Long, Double, Int)] =
    Ann.ivfIndexTopK(spark, emb.filter(col("vec_id") < 5), "embedding",
        "vec_id", idx, k = 3, nprobe = 3)
      .orderBy(col("query_id"), col("rank"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSeq

  private def fileState(dir: Path): Map[String, Long] =
    Files.walk(dir).iterator().asScala
      .filter(p => Files.isRegularFile(p) &&
        p.toString.endsWith(".parquet"))
      .map(p => dir.relativize(p).toString -> Files.size(p)).toMap

  private def build(tmp: Path): String = {
    val idx = tmp.resolve("idx").toString
    Ann.buildIvfIndex(emb.filter(col("vec_id") < 300), "embedding",
      "vec_id", idx, nlist = 8)
    idx
  }

  test("streamed index equals the one-shot inline route, any split") {
    val hist = emb.filter(col("vec_id") < 300)
    val codebook = Ann.seedCodebook(hist, "embedding", "vec_id", 8)
    val oneShot = Ann.ivfTopK(emb.filter(col("vec_id") < 5), emb,
        "embedding", "vec_id", k = 3, nlist = 8, nprobe = 3,
        codebook = Some(codebook))
      .orderBy(col("query_id"), col("rank"))
      .collect().map(_.toSeq).toSeq

    for (split <- Seq(Seq(500L), Seq(400L, 500L), Seq(350L, 420L, 500L))) {
      val tmp = Files.createTempDirectory("graft_ivf_ing")
      val idx = build(tmp)
      val stage = Files.createDirectory(tmp.resolve("stage"))
      var lo = 300L
      split.zipWithIndex.foreach { case (hi, i) =>
        stageOne(emb.filter(col("vec_id") >= lo && col("vec_id") < hi),
          stage.resolve(f"b$i%02d.parquet"), 1000000L * (i + 1))
        lo = hi
      }
      runStream(stage, idx, tmp.resolve("ckpt"))
      val got = Ann.ivfIndexTopK(spark, emb.filter(col("vec_id") < 5),
          "embedding", "vec_id", idx, k = 3, nprobe = 3)
        .orderBy(col("query_id"), col("rank"))
        .collect().map(_.toSeq).toSeq
      assert(got === oneShot, s"split $split diverged from one-shot")
    }
  }

  test("replay is exactly-once: a re-run stream leaves the index and " +
      "its answers unchanged") {
    val tmp = Files.createTempDirectory("graft_ivf_rep")
    val idx = build(tmp)
    val stage = Files.createDirectory(tmp.resolve("stage"))
    stageOne(emb.filter(col("vec_id") >= 300 && col("vec_id") < 400),
      stage.resolve("b0.parquet"), 1000000L)
    stageOne(emb.filter(col("vec_id") >= 400),
      stage.resolve("b1.parquet"), 2000000L)
    runStream(stage, idx, tmp.resolve("ckpt"))
    val first = probe(idx)
    val incr = java.nio.file.Paths.get(idx, "increments")
    val rows1 = spark.read.parquet(incr.toString).count()
    // a FRESH checkpoint replays every file as the same batch ids —
    // the at-least-once worst case; dynamic overwrite on (batch, cell)
    // must make it a no-op, not a duplication
    runStream(stage, idx, tmp.resolve("ckpt2"))
    assert(spark.read.parquet(incr.toString).count() === rows1,
      "replay duplicated postings")
    assert(probe(idx) === first, "replay changed answers")
  }

  test("delete masks immediately; vacuum purges the bytes and answers " +
      "never change") {
    val tmp = Files.createTempDirectory("graft_ivf_del")
    val idx = build(tmp)
    val stage = Files.createDirectory(tmp.resolve("stage"))
    stageOne(emb.filter(col("vec_id") >= 300),
      stage.resolve("b0.parquet"), 1000000L)
    runStream(stage, idx, tmp.resolve("ckpt"))
    val deleted = emb.filter(col("vec_id") % 7 === 0)
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    Ann.deleteFromIvfIndex(
      emb.filter(col("vec_id") % 7 === 0).select(col("vec_id")),
      "vec_id", idx)
    val masked = probe(idx)
    assert(masked.forall(r => !deleted.contains(r._2)),
      "tombstoned id surfaced in a probe")
    // double-delete is idempotent (duplicate tombstone rows collapse)
    Ann.deleteFromIvfIndex(
      emb.filter(col("vec_id") % 7 === 0).select(col("vec_id")),
      "vec_id", idx)
    assert(probe(idx) === masked, "re-delete changed answers")
    Ann.vacuumIvfIndex(spark, idx)
    assert(probe(idx) === masked, "vacuum changed answers")
    // the purge is physical: no tombstoned id in any surviving file,
    // and the increment log + tombstones are gone
    val left = spark.read.parquet(s"$idx/postings")
      .select(col("corpus_id")).collect().map(_.getLong(0)).toSet
    assert(left.intersect(deleted).isEmpty, "deleted bytes survived")
    assert(!Files.isDirectory(java.nio.file.Paths.get(idx, "increments")))
    assert(!Files.isDirectory(java.nio.file.Paths.get(idx, "tombstones")))
    // vacuum of a clean index is a semantic no-op
    Ann.vacuumIvfIndex(spark, idx)
    assert(probe(idx) === masked, "second vacuum changed answers")
  }

  test("vacuum heals a crash between delete and rename") {
    val tmp = Files.createTempDirectory("graft_ivf_heal")
    val idx = build(tmp)
    Ann.deleteFromIvfIndex(
      emb.filter(col("vec_id") % 7 === 0).select(col("vec_id")),
      "vec_id", idx)
    val want = probe(idx)
    // crash the vacuum between its two renames: live postings moved
    // aside, the complete staged rewrite not yet renamed in
    val live = java.nio.file.Paths.get(idx, "postings")
    val staged = java.nio.file.Paths.get(idx, "postings.__tmp__")
    val crash = intercept[IllegalStateException] {
      Failpoints.withHook(t =>
        if (t == "sinks.swap.live_removed")
          throw new IllegalStateException("crash")) {
        Ann.vacuumIvfIndex(spark, idx)
      }
    }
    assert(crash.getMessage === "crash")
    assert(!Files.isDirectory(live) && Files.isDirectory(staged))
    Ann.vacuumIvfIndex(spark, idx) // heal path
    assert(Files.isDirectory(live) && !Files.exists(staged))
    assert(!Files.isDirectory(java.nio.file.Paths.get(idx, "tombstones")))
    assert(probe(idx) === want, "healed index diverged")
  }

  test("takedown property: stream-split + delete + vacuum ≡ " +
      "build-once-without, on random splits and delete sets") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val gen = for {
      cut <- Gen.choose(310L, 490L)
      dels <- Gen.someOf(0L until 500L by 13L)
    } yield (cut, dels.toSet)
    for (i <- 0 until 3) {
      val (cut, dels) = gen(Gen.Parameters.default, Seed(400L + i)).get
      val tmp = Files.createTempDirectory("graft_ivf_prop")
      val idx = build(tmp)
      val stage = Files.createDirectory(tmp.resolve("stage"))
      stageOne(emb.filter(col("vec_id") >= 300 && col("vec_id") < cut),
        stage.resolve("b0.parquet"), 1000000L)
      stageOne(emb.filter(col("vec_id") >= cut),
        stage.resolve("b1.parquet"), 2000000L)
      runStream(stage, idx, tmp.resolve("ckpt"))
      Ann.deleteFromIvfIndex(
        emb.filter(col("vec_id").isin(dels.toSeq: _*))
          .select(col("vec_id")), "vec_id", idx)
      val masked = probe(idx)
      Ann.vacuumIvfIndex(spark, idx)
      assert(probe(idx) === masked, s"case $i: vacuum changed answers")
      // reference: one-shot index over the corpus minus the deletions
      val ref = Files.createTempDirectory("graft_ivf_ref")
      val codebook = Ann.seedCodebook(emb.filter(col("vec_id") < 300),
        "embedding", "vec_id", 8)
      Ann.buildIvfIndex(
        emb.filter(!col("vec_id").isin(dels.toSeq: _*)),
        "embedding", "vec_id", s"${ref.resolve("idx")}", nlist = 8,
        codebook = Some(codebook))
      val want = Ann.ivfIndexTopK(spark,
          emb.filter(col("vec_id") < 5), "embedding", "vec_id",
          s"${ref.resolve("idx")}", k = 3, nprobe = 3)
        .orderBy(col("query_id"), col("rank"))
        .collect().map(_.toSeq).toSeq
      assert(probe(idx).map(t => Seq(t._1, t._2, t._3, t._4)) === want,
        s"case $i: cut=$cut dels=${dels.toSeq.sorted}")
    }
  }

  test("ingest never rewrites base postings") {
    val tmp = Files.createTempDirectory("graft_ivf_base")
    val idx = build(tmp)
    val base = java.nio.file.Paths.get(idx, "postings")
    val before = fileState(base)
    val stage = Files.createDirectory(tmp.resolve("stage"))
    stageOne(emb.filter(col("vec_id") >= 300),
      stage.resolve("b0.parquet"), 1000000L)
    runStream(stage, idx, tmp.resolve("ckpt"))
    assert(fileState(base) === before,
      "base posting files changed under ingest")
  }

  test("every stored-index probe sees a streamed batch before any " +
      "vacuum: ivfIndexTopK, the escalation loop and vectorSearch") {
    val queries = emb.filter(col("vec_id") < 5)
    // the batch holds each query's true nearest neighbour, so a probe
    // that reads the base postings alone answers differently
    val nn = Ann.bruteTopK(queries, emb, "embedding", "vec_id", k = 1)
      .collect().map(_.getLong(1)).toSet
    val inBatch = col("vec_id").isin(nn.toSeq: _*) || col("vec_id") >= 450
    val tmp = Files.createTempDirectory("graft_ivf_vis")
    val idx = tmp.resolve("idx").toString
    Ann.buildIvfIndex(emb.filter(!inBatch), "embedding", "vec_id", idx,
      nlist = 8)
    Ann.appendIvfBatch(spark, emb.filter(inBatch), "embedding", "vec_id",
      idx, batchId = 0L)
    // the model: a fresh index over base ∪ batch, same codebook
    val codebook = Ann.seedCodebook(emb.filter(!inBatch), "embedding",
      "vec_id", 8)
    val fresh = tmp.resolve("fresh").toString
    Ann.buildIvfIndex(emb, "embedding", "vec_id", fresh, nlist = 8,
      codebook = Some(codebook))

    def rows(df: DataFrame): Seq[Seq[Any]] =
      df.orderBy(col("query_id"), col("rank")).collect().map(_.toSeq).toSeq
    val want = rows(Ann.ivfIndexTopK(spark, queries, "embedding",
      "vec_id", fresh, k = 3, nprobe = 3))
    assert(want.exists(r => nn.contains(r(1).asInstanceOf[Long])),
      "the model's answer must include a streamed vector")
    assert(rows(Ann.ivfIndexTopK(spark, queries, "embedding", "vec_id",
      idx, k = 3, nprobe = 3)) === want, "ivfIndexTopK")
    assert(rows(Ann.ivfIndexTopKEscalating(spark, queries, "embedding",
      "vec_id", idx, k = 3, nprobe = 3)) === want, "ivfIndexTopKEscalating")
    val svc = new graft.service.QueryService(spark, sf0001)
    def served(path: String): Set[Map[String, Any]] =
      svc.vectorSearch(queries, path, k = 3, nprobe = 3).records.toSet
    assert(served(idx) === served(fresh), "vectorSearch")
  }
}
