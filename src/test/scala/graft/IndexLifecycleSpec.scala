package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.index.IndexLifecycle
import graft.similarity.Ann
import graft.sinks.Sinks

/** The shared index-lifecycle kernel ([[graft.index.IndexLifecycle]])
  * and the crash/race hazards it closes in BOTH index families:
  *
  *  - vacuum idempotence across the rename→cleanup crash window (a
  *    stale increments dir left behind must not duplicate postings on
  *    the next vacuum);
  *  - snapshot-scoped cleanup (a tombstone appended after a
  *    maintenance pass's entry snapshot must survive it, unapplied but
  *    intact for the next pass — never a lost takedown);
  *  - type-preserving tombstones (a string-id corpus's delete must
  *    actually mask; the old cast-to-long produced null tombstones
  *    that matched nothing);
  *  - tombstone masking in the stored-index probe (`ivfIndexTopK`);
  *  - the lake's one swap protocol (`graft.sinks.Sinks.swap`), which
  *    both families' rewrites publish through: its heal
  *    ([[graft.sinks.Sinks.healSwap]]) takes `.__old__`, not Spark's
  *    `_SUCCESS`, as the mark of a started swap, and a kill in any
  *    swap window of an IVF vacuum or a MinHash compaction leaves the
  *    index directory absent or whole, never partial, and the next
  *    pass converges.
  */
class IndexLifecycleSpec extends SparkSpec {
  import spark.implicits._

  private def emb: DataFrame =
    spark.read.parquet(s"$sf0001/embeddings.parquet")

  private def copyTree(src: Path, dst: Path): Unit = {
    Files.walk(src).iterator().asScala.toSeq.foreach { p =>
      val t = dst.resolve(src.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t)
    }
    ()
  }

  test("vacuum is idempotent when a crash leaves a stale increments " +
      "dir behind (no duplicated postings, probe unchanged)") {
    val tmp = Files.createTempDirectory("graft_ilc_vac")
    val idx = tmp.resolve("idx").toString
    Ann.buildIvfIndex(emb.filter(col("vec_id") < 300), "embedding",
      "vec_id", idx, nlist = 8)
    Ann.appendIvfBatch(spark,
      emb.filter(col("vec_id") >= 300 && col("vec_id") < 400),
      "embedding", "vec_id", idx, batchId = 0L)
    // snapshot the increment log, then simulate the crash window: the
    // first vacuum completed its rename but died before deleting the
    // increments — restore them after the vacuum
    val incr = tmp.resolve("idx").resolve("increments")
    val saved = tmp.resolve("saved_incr")
    copyTree(incr, saved)
    Ann.vacuumIvfIndex(spark, idx)
    assert(!Files.isDirectory(incr))
    copyTree(saved, incr) // the stale, already-folded increment log
    Ann.vacuumIvfIndex(spark, idx) // must union + dedup, not duplicate
    val dupIds = spark.read.parquet(s"$idx/postings")
      .groupBy(col("corpus_id")).count().filter(col("count") > 1).count()
    assert(dupIds === 0L)
    // the probe must match a never-incremented, never-vacuumed rebuild
    // over the same 400 vectors with the same codebook
    val fresh = tmp.resolve("fresh").toString
    val codebook = spark.read.parquet(s"$idx/codebook")
      .orderBy(col("cell")).collect().map(_.getSeq[Double](1).toArray)
    Ann.buildIvfIndex(emb.filter(col("vec_id") < 400), "embedding",
      "vec_id", fresh, nlist = 8, codebook = Some(codebook))
    val q = emb.filter(col("vec_id") < 5)
    val got = Ann.ivfIndexTopK(spark, q, "embedding", "vec_id", idx,
      k = 3, nprobe = 3).orderBy("query_id", "rank")
      .collect().map(_.toSeq).toSeq
    val want = Ann.ivfIndexTopK(spark, q, "embedding", "vec_id", fresh,
      k = 3, nprobe = 3).orderBy("query_id", "rank")
      .collect().map(_.toSeq).toSeq
    assert(got === want)
  }

  test("a tombstone appended after the maintenance snapshot survives " +
      "the pass for the next one (no lost takedown)") {
    val tmp = Files.createTempDirectory("graft_ilc_snap")
    val dir = tmp.resolve("tombstones").toString
    IndexLifecycle.appendTombstones(Seq(1L, 2L).toDF("id"), "id", "id",
      dir)
    val snap = IndexLifecycle.snapshotFiles(dir)
    assert(snap.nonEmpty)
    // a concurrent delete lands between the pass's scan and its cleanup
    IndexLifecycle.appendTombstones(Seq(3L).toDF("id"), "id", "id", dir)
    IndexLifecycle.deleteSnapshot(dir, snap)
    // the snapshot's files are gone; the late tombstone is intact
    val left = spark.read.parquet(dir).select("id")
      .as[Long].collect().toSeq
    assert(left === Seq(3L))
  }

  test("string-id takedown masks (tombstone type preserved, not " +
      "cast-to-long nulls)") {
    val tmp = Files.createTempDirectory("graft_ilc_str")
    val idx = tmp.resolve("idx").toString
    val corpus = emb.filter(col("vec_id") < 200)
      .select(concat(lit("v-"), col("vec_id")).as("sid"),
        col("embedding"))
    Ann.buildIvfIndex(corpus, "embedding", "sid", idx, nlist = 4)
    val queries = corpus.limit(3)
    val before = Ann.ivfIndexTopK(spark, queries, "embedding", "sid",
      idx, k = 5, nprobe = 4)
    val victim = before.select(col("corpus_id")).limit(1)
      .collect().head.getString(0)
    Ann.deleteFromIvfIndex(Seq(victim).toDF("sid"), "sid", idx)
    // the tombstone file keeps the string type on disk
    val tombType = spark.read.parquet(s"$idx/tombstones")
      .schema("corpus_id").dataType
    assert(tombType === org.apache.spark.sql.types.StringType)
    // …and the delete is actually visible: the victim never surfaces
    val after = Ann.ivfIndexTopK(spark, queries, "embedding", "sid",
      idx, k = 5, nprobe = 4)
      .filter(col("corpus_id") === victim).count()
    assert(after === 0L)
  }

  test("ivfIndexTopK honors tombstones too (no takedown leakage when " +
      "probe APIs are mixed)") {
    val tmp = Files.createTempDirectory("graft_ilc_mix")
    val idx = tmp.resolve("idx").toString
    Ann.buildIvfIndex(emb.filter(col("vec_id") < 300), "embedding",
      "vec_id", idx, nlist = 8)
    val q = emb.filter(col("vec_id") < 3)
    val victim = Ann.ivfIndexTopK(spark, q, "embedding", "vec_id", idx,
        k = 3, nprobe = 3)
      .select(col("corpus_id")).limit(1).collect().head.getLong(0)
    Ann.deleteFromIvfIndex(Seq(victim).toDF("vec_id"), "vec_id", idx)
    val leaked = Ann.ivfIndexTopK(spark, q, "embedding", "vec_id", idx,
        k = 3, nprobe = 3)
      .filter(col("corpus_id") === victim).count()
    assert(leaked === 0L)
  }

  test("healSwap publishes a staged dir only once the swap has started " +
      "(.__old__), never on _SUCCESS alone") {
    val tmp = Files.createTempDirectory("graft_ilc_heal")
    val live = tmp.resolve("live")
    val staged = tmp.resolve("live.__tmp__")
    val old = tmp.resolve("live.__old__")
    def dir(d: Path, file: String): Unit = {
      Files.createDirectories(d)
      Files.writeString(d.resolve(file), "x"): Unit
    }
    // incomplete staged (no _SUCCESS, no .__old__): not published
    dir(staged, "part-0")
    Sinks.healSwap(live.toString)
    assert(!Files.exists(live) && !Files.exists(staged))
    // no .__old__: even a complete staged dir is discarded — nothing
    // was ever published, the at-least-once caller replays
    dir(staged, "part-0"); dir(staged, "_SUCCESS")
    Sinks.healSwap(live.toString)
    assert(!Files.exists(live) && !Files.exists(staged))
    // complete staged + .__old__ (crash between the renames): published
    dir(old, "part-old"); dir(staged, "part-0")
    Sinks.healSwap(live.toString)
    assert(Files.exists(live.resolve("part-0")) &&
      !Files.exists(staged) && !Files.exists(old))
    // live present: a no-op on live, leftovers beside it removed
    dir(staged, "part-new"); dir(old, "part-old")
    Sinks.healSwap(live.toString)
    assert(Files.exists(live.resolve("part-0")) &&
      !Files.exists(live.resolve("part-new")) &&
      !Files.exists(staged) && !Files.exists(old))
    // .__old__ without a staged dir: the old table is restored
    Files.move(live, old)
    Sinks.healSwap(live.toString)
    assert(Files.exists(live.resolve("part-0")) && !Files.exists(old))
  }

  private final class Kill extends RuntimeException("chaos kill")

  /** Run `body` with the first firing of `tag` killed; it must die. */
  private def killedAt(tag: String)(body: => Unit): Unit = {
    val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
    intercept[Kill] {
      Failpoints.withHook(t =>
        if (t == tag && fired.compareAndSet(false, true)) throw new Kill)(
        body)
    }
    ()
  }

  private def rowsAt(dir: String): Option[Long] =
    if (Files.isDirectory(java.nio.file.Paths.get(dir)))
      Some(spark.read.parquet(dir).count())
    else None

  private val swapWindows = Seq("sinks.swap.staged",
    "sinks.swap.live_removed", "sinks.swap.swapped")

  /** What a kill in each swap window leaves at the swapped path. */
  private def leftAt(tag: String, before: Long, after: Long): Option[Long] =
    tag match {
      case "sinks.swap.staged" => Some(before)
      case "sinks.swap.live_removed" => None
      case _ => Some(after)
    }

  test("a kill in every swap window of an IVF vacuum leaves postings " +
      "absent or whole; the next vacuum converges") {
    val tmp = Files.createTempDirectory("graft_ilc_ivfchaos")
    val base = tmp.resolve("base")
    Ann.buildIvfIndex(emb.filter(col("vec_id") < 300), "embedding",
      "vec_id", base.toString, nlist = 8)
    Ann.appendIvfBatch(spark,
      emb.filter(col("vec_id") >= 300 && col("vec_id") < 400),
      "embedding", "vec_id", base.toString, batchId = 0L)
    Ann.deleteFromIvfIndex(emb.filter(col("vec_id") % 7 === 0)
      .select(col("vec_id")), "vec_id", base.toString)
    val q = emb.filter(col("vec_id") < 5)
    def probe(idx: String): Seq[Seq[Any]] =
      Ann.ivfIndexTopK(spark, q, "embedding", "vec_id", idx, k = 3,
          nprobe = 3)
        .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    val clean = tmp.resolve("clean")
    copyTree(base, clean)
    val before = rowsAt(s"$clean/postings").get
    Ann.vacuumIvfIndex(spark, clean.toString)
    val after = rowsAt(s"$clean/postings").get
    assert(before === 300L && after === 400L - 58L)
    val want = probe(clean.toString)
    swapWindows.foreach { tag =>
      val idx = tmp.resolve(tag).toString
      copyTree(base, tmp.resolve(tag))
      killedAt(tag)(Ann.vacuumIvfIndex(spark, idx))
      assert(rowsAt(s"$idx/postings") === leftAt(tag, before, after), tag)
      Ann.vacuumIvfIndex(spark, idx)
      assert(rowsAt(s"$idx/postings") === Some(after), tag)
      assert(probe(idx) === want, tag)
    }
  }

  test("a kill in every swap window of a MinHash compaction leaves " +
      "buckets/tokens absent or whole; the next compaction converges") {
    import graft.dedup.Dedup
    val tmp = Files.createTempDirectory("graft_ilc_mhchaos")
    val base = tmp.resolve("base")
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"), col("text"))
    Dedup.buildMinhashIndex(docs.filter(col("doc_id") < 200), "text",
      "doc_id", base.toString)
    // an at-least-once replay's duplicate rows, plus a takedown: the
    // compaction collapses the one and purges the other
    Dedup.appendToMinhashIndex(docs.filter(col("doc_id") < 50), "text",
      "doc_id", base.toString)
    Dedup.deleteFromMinhashIndex(docs.filter(col("doc_id") % 9 === 0)
      .select(col("doc_id")), "doc_id", base.toString)
    val fresh = docs.filter(col("doc_id") < 60)
      .withColumn("doc_id", col("doc_id") + 1000000L)
    def probe(idx: String): Set[Seq[Any]] =
      Dedup.incrementalDupes(spark, fresh, "text", "doc_id", idx)
        .collect().map(_.toSeq).toSet
    val subs = Seq("buckets", "tokens")
    val clean = tmp.resolve("clean")
    copyTree(base, clean)
    val before = subs.map(sub => sub -> rowsAt(s"$clean/$sub").get).toMap
    Dedup.compactMinhashIndex(spark, clean.toString)
    val after = subs.map(sub => sub -> rowsAt(s"$clean/$sub").get).toMap
    subs.foreach(sub => assert(after(sub) < before(sub), sub))
    val want = probe(clean.toString)
    assert(want.nonEmpty)
    swapWindows.foreach { tag =>
      val idx = tmp.resolve(tag).toString
      copyTree(base, tmp.resolve(tag))
      killedAt(tag)(Dedup.compactMinhashIndex(spark, idx))
      // the two sub-swaps run side by side: the killed one is in the
      // window's state, the other one finished
      subs.foreach { sub =>
        val left = rowsAt(s"$idx/$sub")
        assert(left === leftAt(tag, before(sub), after(sub)) ||
          left === Some(after(sub)), s"$tag $sub")
      }
      Dedup.compactMinhashIndex(spark, idx)
      subs.foreach(sub =>
        assert(rowsAt(s"$idx/$sub") === Some(after(sub)), s"$tag $sub"))
      assert(probe(idx) === want, tag)
    }
  }

  test("string-id takedown masks on the MinHash side too") {
    val tmp = Files.createTempDirectory("graft_ilc_mh")
    val idx = tmp.resolve("idx").toString
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .filter(col("doc_id") < 200)
      .select(concat(lit("d-"), col("doc_id")).as("sid"), col("text"))
    graft.dedup.Dedup.buildMinhashIndex(docs, "text", "sid", idx)
    val probe = docs.limit(40)
      .withColumn("sid", concat(lit("new-"), col("sid")))
    val before = graft.dedup.Dedup.incrementalDupes(spark, probe,
      "text", "sid", idx, verifyThreshold = 0.9)
    assert(before.count() > 0L) // identical texts: must match initially
    val victims = before.select(col("id_a").as("sid")).distinct()
    graft.dedup.Dedup.deleteFromMinhashIndex(victims, "sid", idx)
    val after = graft.dedup.Dedup.incrementalDupes(spark, probe,
      "text", "sid", idx, verifyThreshold = 0.9)
    assert(after.count() === 0L)
  }
}
