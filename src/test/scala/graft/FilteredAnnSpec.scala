package graft

import org.apache.spark.sql.functions._

import graft.similarity.Ann

/** Filtered vector search over the stored IVF index: a metadata
  * predicate at probe time must equal the inline IVF route over the
  * PRE-filtered corpus under the SAME (full-corpus) codebook — the
  * exact-semantics claim the judged `ann_filtered` oracle rests on —
  * and the unfiltered probe must be unchanged by the attribute payload
  * riding the postings. */
class FilteredAnnSpec extends SparkSpec {

  private def emb = graft.Tables.load(spark, sf001, "embeddings")

  test("filtered stored-index probe ≡ inline IVF over the filtered " +
    "corpus with the full-corpus codebook") {
    val e = emb
    val path = graft.etl.Utils.scratchDir("graft_fltspec") + "/idx"
    Ann.buildIvfIndex(e, "embedding", "vec_id", path, nlist = 8,
      attrCols = Seq("label"))
    val got = Ann.ivfIndexTopK(spark, e.filter(col("vec_id") < 10),
        "embedding", "vec_id", path, k = 5, nprobe = 3,
        where = Some(col("label") < 3))
      .orderBy(col("query_id"), col("rank")).collect()
    // inline route: same codebook (seeded from the FULL corpus — the
    // filter must not retrain), corpus pre-filtered
    val cb = Seq.tabulate(8)(i => i) // codebook = 8 smallest-id vectors
    val seeded = e.orderBy(col("vec_id")).limit(8)
      .select(col("embedding").cast("array<double>"))
      .collect().map(_.getSeq[Double](0).toArray)
    val ref = Ann.ivfTopK(e.filter(col("vec_id") < 10),
        e.filter(col("label") < 3), "embedding", "vec_id",
        k = 5, nlist = 8, nprobe = 3, codebook = Some(seeded))
      .orderBy(col("query_id"), col("rank")).collect()
    assert(got.map(_.toString).toSeq === ref.map(_.toString).toSeq)
    assert(got.nonEmpty)
    assert(cb.length == 8)
  }

  test("attribute payload does not perturb the unfiltered probe") {
    val e = emb
    val plain = graft.etl.Utils.scratchDir("graft_fltplain") + "/idx"
    val withAttr = graft.etl.Utils.scratchDir("graft_fltattr") + "/idx"
    Ann.buildIvfIndex(e, "embedding", "vec_id", plain, nlist = 8)
    Ann.buildIvfIndex(e, "embedding", "vec_id", withAttr, nlist = 8,
      attrCols = Seq("label"))
    val q = e.filter(col("vec_id") < 6)
    val a = Ann.ivfIndexTopK(spark, q, "embedding", "vec_id", plain,
      k = 5, nprobe = 3).orderBy(col("query_id"), col("rank")).collect()
    val b = Ann.ivfIndexTopK(spark, q, "embedding", "vec_id", withAttr,
      k = 5, nprobe = 3).orderBy(col("query_id"), col("rank")).collect()
    assert(a.map(_.toString).toSeq === b.map(_.toString).toSeq)
  }

  test("vacuum preserves the attribute payload (filtered probes " +
    "survive maintenance)") {
    val e = emb
    val path = graft.etl.Utils.scratchDir("graft_fltvac") + "/idx"
    Ann.buildIvfIndex(e, "embedding", "vec_id", path, nlist = 8,
      attrCols = Seq("label"))
    val q = e.filter(col("vec_id") < 6)
    val pred = Some(col("label") < 3)
    val before = Ann.ivfIndexTopK(spark, q, "embedding", "vec_id",
        path, k = 5, nprobe = 3, where = pred)
      .orderBy(col("query_id"), col("rank")).collect()
    // a takedown then vacuum: the rewrite must keep the label column
    Ann.deleteFromIvfIndex(
      e.filter(col("vec_id") === 499).select(col("vec_id")), "vec_id",
      path)
    Ann.vacuumIvfIndex(spark, path)
    val after = Ann.ivfIndexTopK(spark, q, "embedding", "vec_id",
        path, k = 5, nprobe = 3, where = pred)
      .orderBy(col("query_id"), col("rank")).collect()
    // vec_id 499 was not in anyone's pre-vacuum top-5 for this query
    // set iff results match; either way the probe must NOT throw and
    // every surviving row must still satisfy the predicate
    assert(after.nonEmpty)
    val survivors = after.map(_.getLong(1)).toSet
    assert(!survivors.contains(499L))
    assert(before.map(_.getLong(0)).toSet == after.map(_.getLong(0)).toSet)
  }

  test("escalating probe guarantees min(k, matches) per query and " +
    "equals the exact filtered top-k when escalation exhausts cells") {
    val e = emb.withColumn("vid", col("vec_id"))
    val path = graft.etl.Utils.scratchDir("graft_fltesc") + "/idx"
    Ann.buildIvfIndex(e, "embedding", "vec_id", path, nlist = 8,
      attrCols = Seq("vid"))
    val q = e.filter(col("vec_id") < 10)
    // only 4 matching postings exist in the whole index (< k = 5), so
    // every query is forced through the full 1→2→4→8 escalation and
    // the result must equal the brute-force filtered top-k
    val got = Ann.ivfIndexTopKEscalating(spark, q, "embedding",
        "vec_id", path, k = 5, nprobe = 1,
        where = Some(col("vid") < 4))
      .orderBy(col("query_id"), col("rank")).collect()
    val ref = Ann.bruteTopK(q, emb.filter(col("vec_id") < 4),
        "embedding", "vec_id", k = 5)
      .orderBy(col("query_id"), col("rank")).collect()
    assert(got.map(_.toString).toSeq === ref.map(_.toString).toSeq)
    // each query got every match the index holds: 3 for queries that
    // are themselves in the filtered set (self excluded), 4 otherwise
    val counts = got.groupBy(_.getLong(0)).view.mapValues(_.length).toMap
    (0L until 10L).foreach { qid =>
      assert(counts(qid) == (if (qid < 4) 3 else 4), s"q=$qid")
    }
  }

  test("escalating probe leaves satisfied queries untouched (equals " +
    "the plain probe when no query starves)") {
    val e = emb
    val path = graft.etl.Utils.scratchDir("graft_fltnoesc") + "/idx"
    Ann.buildIvfIndex(e, "embedding", "vec_id", path, nlist = 8,
      attrCols = Seq("label"))
    val q = e.filter(col("vec_id") < 6)
    val pred = Some(col("label") >= 0) // matches everything
    val esc = Ann.ivfIndexTopKEscalating(spark, q, "embedding",
        "vec_id", path, k = 5, nprobe = 3, where = pred)
      .orderBy(col("query_id"), col("rank")).collect()
    val plain = Ann.ivfIndexTopK(spark, q, "embedding", "vec_id", path,
        k = 5, nprobe = 3, where = pred)
      .orderBy(col("query_id"), col("rank")).collect()
    assert(esc.map(_.toString).toSeq === plain.map(_.toString).toSeq)
  }

  test("predicate naming a non-attribute column fails fast with the " +
    "attrCols vocabulary, not an opaque scan error") {
    val e = emb
    val path = graft.etl.Utils.scratchDir("graft_fltbadpred") + "/idx"
    Ann.buildIvfIndex(e, "embedding", "vec_id", path, nlist = 8,
      attrCols = Seq("label"))
    val q = e.filter(col("vec_id") < 3)
    val err = intercept[IllegalArgumentException] {
      Ann.ivfIndexTopK(spark, q, "embedding", "vec_id", path, k = 5,
        nprobe = 3, where = Some(col("no_such_attr") === 1))
    }
    assert(err.getMessage.contains("attrCols"))
    assert(err.getMessage.contains("label"))
    // internal layout columns are rejected too — a predicate on them
    // would filter on meaningless data, never a judged semantic
    intercept[IllegalArgumentException] {
      Ann.ivfIndexTopK(spark, q, "embedding", "vec_id", path, k = 5,
        nprobe = 3, where = Some(col("corpus_id") < 10))
    }
  }

  test("vacuum keeps the attribute-bearing live posting when an " +
    "increment re-ingests the same id without attributes, and the " +
    "increment 'batch' column never leaks into the postings schema") {
    val e = emb
    val path = graft.etl.Utils.scratchDir("graft_fltdet") + "/idx"
    Ann.buildIvfIndex(e, "embedding", "vec_id", path, nlist = 8,
      attrCols = Seq("label"))
    // streamed increment re-ingests ids 0..19 — appendIvfBatch carries
    // no attribute payload and adds a 'batch' partition column
    Ann.appendIvfBatch(spark, e.filter(col("vec_id") < 20), "embedding",
      "vec_id", path, batchId = 7L)
    Ann.vacuumIvfIndex(spark, path)
    val post = spark.read.parquet(s"$path/postings")
    assert(!post.columns.contains("batch"),
      s"batch leaked: ${post.columns.mkString(",")}")
    // deterministic survivor: the live attribute-bearing row wins, so
    // every id still carries its label and filtered probes still see it
    val nullLabels = post.filter(col("label").isNull).count()
    assert(nullLabels == 0, s"$nullLabels ids lost their filter metadata")
    assert(post.select(col("corpus_id")).distinct().count() == post.count())
    val q = e.filter(col("vec_id") < 6)
    val res = Ann.ivfIndexTopK(spark, q, "embedding", "vec_id", path,
      k = 5, nprobe = 3, where = Some(col("label") >= 0)).collect()
    assert(res.nonEmpty)
  }

  test("live filtered probe: attribute-carrying increments are " +
    "filterable; attr-less increments never match a filtered probe " +
    "but still serve unfiltered ones") {
    val e = emb
    val path = graft.etl.Utils.scratchDir("graft_fltlive") + "/idx"
    Ann.buildIvfIndex(e.filter(col("vec_id") < 300), "embedding",
      "vec_id", path, nlist = 8, attrCols = Seq("label"))
    // batch 0 carries its metadata; batch 1 does not
    Ann.appendIvfBatch(spark, e.filter(col("vec_id") >= 300 &&
      col("vec_id") < 400), "embedding", "vec_id", path, 0L,
      attrCols = Seq("label"))
    Ann.appendIvfBatch(spark, e.filter(col("vec_id") >= 400),
      "embedding", "vec_id", path, 1L)
    val q = e.filter(col("vec_id") < 6)
    val pred = Some(col("label") >= 0) // matches every labeled vector
    val filtered = Ann.ivfIndexTopK(spark, q, "embedding", "vec_id",
      path, k = 400, nprobe = 8, where = pred).collect()
    val unfiltered = Ann.ivfIndexTopK(spark, q, "embedding", "vec_id",
      path, k = 400, nprobe = 8).collect()
    val ids = filtered.map(_.getLong(1)).toSet
    // metadata-less batch-1 vectors (vec_id >= 400) never match a
    // filtered probe...
    assert(ids.forall(_ < 400), ids.filter(_ >= 400).take(5))
    // ...but the unfiltered probe sees the whole live index
    assert(unfiltered.map(_.getLong(1)).exists(_ >= 400))
    // and batch-0 (attr-carrying streamed) vectors ARE filterable
    assert(ids.exists(id => id >= 300 && id < 400))
    // filtered live probe over an attr-carrying stream ≡ inline IVF
    // over the pre-filtered corpus slice with the same codebook
    val seeded = e.filter(col("vec_id") < 300).orderBy(col("vec_id"))
      .limit(8).select(col("embedding").cast("array<double>"))
      .collect().map(_.getSeq[Double](0).toArray)
    val ref = Ann.ivfTopK(q, e.filter(col("vec_id") < 400)
        .filter(col("label") >= 0), "embedding", "vec_id",
        k = 400, nlist = 8, nprobe = 8, codebook = Some(seeded))
      .orderBy(col("query_id"), col("rank")).collect()
    val got = Ann.ivfIndexTopK(spark, q, "embedding", "vec_id", path,
        k = 400, nprobe = 8, where = pred)
      .orderBy(col("query_id"), col("rank")).collect()
    assert(got.map(_.toString).toSeq === ref.map(_.toString).toSeq)
  }

  test("selective filters return short lists, never wrong neighbors") {
    val e = emb
    val path = graft.etl.Utils.scratchDir("graft_fltsel") + "/idx"
    Ann.buildIvfIndex(e, "embedding", "vec_id", path, nlist = 8,
      attrCols = Seq("label"))
    // impossible predicate: zero candidates, zero rows — not a throw,
    // not unfiltered fallback
    val none = Ann.ivfIndexTopK(spark, e.filter(col("vec_id") < 6),
      "embedding", "vec_id", path, k = 5, nprobe = 3,
      where = Some(col("label") === 999)).collect()
    assert(none.isEmpty)
  }

  test("vacuum keeps the UPDATED vector when an increment re-ingests " +
    "a live id with equally-complete attributes — results for updated " +
    "vectors must not change across a vacuum") {
    val e = emb
    val path = graft.etl.Utils.scratchDir("graft_fltupd") + "/idx"
    Ann.buildIvfIndex(e, "embedding", "vec_id", path, nlist = 8,
      attrCols = Seq("label"))
    // the update: id 42 re-ingests with a NEW vector (negated) and the
    // SAME attribute completeness (label rides along)
    val upd = e.filter(col("vec_id") === 42)
      .withColumn("embedding",
        transform(col("embedding"), x => -x.cast("double")))
    Ann.appendIvfBatch(spark, upd, "embedding", "vec_id", path,
      batchId = 3L, attrCols = Seq("label"))
    // query under a FRESH id (probes exclude corpus_id == query_id)
    val q = upd.select((col("vec_id") + 900000L).as("vec_id"),
      col("embedding"))
    // pre-vacuum the live view serves the increment row...
    val before = Ann.ivfIndexTopK(spark, q, "embedding", "vec_id", path,
        k = 3, nprobe = 8).orderBy(col("rank")).collect()
    Ann.vacuumIvfIndex(spark, path)
    // ...and post-vacuum the stored index must serve the SAME rows
    // (newest-batch-wins on completeness ties; the stale live posting
    // must not resurrect)
    val after = Ann.ivfIndexTopK(spark, q, "embedding", "vec_id", path,
        k = 3, nprobe = 8).orderBy(col("rank")).collect()
    assert(before.map(_.toString).toSeq === after.map(_.toString).toSeq)
    // the updated vector matches itself exactly at rank 1
    assert(after.head.getLong(1) == 42L, after.head.toString)
  }

  test("escalating probe with a WIDE query set and idCol literally " +
    "'query_id': no ambiguous-reference error, no driver literal-list " +
    "plan bloat, min(k, matches) per query") {
    val e = emb
    val path = graft.etl.Utils.scratchDir("graft_fltwide") + "/idx"
    Ann.buildIvfIndex(e.withColumn("vid", col("vec_id")), "embedding",
      "vec_id", path, nlist = 8, attrCols = Seq("vid"))
    // 200 queries, all starved (only 4 postings match the predicate),
    // under the caller-column name that used to collide with the
    // internal result column
    val q = e.filter(col("vec_id") < 200)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val res = Ann.ivfIndexTopKEscalating(spark, q, "embedding",
      "query_id", path, k = 5, nprobe = 1, where = Some(col("vid") < 4))
    // the starved-set plumbing must be a JOIN, not a collected literal
    // list: no optimized-plan line may carry a hundreds-long IN (...)
    val plan = res.queryExecution.optimizedPlan.toString
    val bloated = plan.linesIterator.exists(l =>
      l.contains(" IN (") && l.count(_ == ',') > 100)
    assert(!bloated, "driver literal-list leaked into the plan")
    val counts = res.collect().groupBy(_.getLong(0)).view
      .mapValues(_.length).toMap
    assert(counts.size == 200)
    (0L until 200L).foreach { qid =>
      assert(counts(qid) == (if (qid < 4) 3 else 4), s"q=$qid")
    }
  }
}
