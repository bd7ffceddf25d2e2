package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.text.TextAnalysis._

/** Deduplication operators for training-data pipelines: exact,
  * MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine near-dup.
  *
  * Scale design: every method is generate → shuffle-on-key → aggregate;
  * no pairwise O(n²) work ever happens outside a bucket/candidate join.
  * Frequent-shingle capping bounds the worst-case bucket size (the
  * classic "stopword shingle" blowup on web corpora).
  */
object Dedup {

  // ── Exact (hash groupBy) ───────────────────────────────────────────
  /** Content hash for exact dedup (common_utils.py:176-186 md5 analogue). */
  def contentHash(c: Column): Column = md5(c)

  /** Deterministic keep-first exact dedup: min id wins per content hash.
    * One shuffle on the hash. */
  def exactDedup(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val w = Window.partitionBy(contentHash(col(textCol))).orderBy(col(idCol))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Exact-dup statistics in one aggregate pass. */
  def exactDupStats(df: DataFrame, textCol: String): DataFrame =
    df.agg(count(lit(1)).as("n"),
      count_distinct(contentHash(col(textCol))).as("n_unique"))
      .select(col("n"), col("n_unique"),
        (col("n") - col("n_unique")).as("n_dups"))

  // ── n-gram Jaccard similarity join ─────────────────────────────────
  /** Candidate pairs by shared token/shingle with Jaccard ≥ threshold.
    *
    * explode(shingles) → self-join on shingle (ids ordered) → count
    * common → J = |∩| / (|A|+|B|−|∩|). `maxShingleFreq` drops shingles
    * appearing in more than that many docs before the join — the skew
    * guard that keeps bucket sizes bounded at corpus scale.
    */
  def ngramJaccardPairs(df: DataFrame, textCol: String, idCol: String,
      n: Int, threshold: Double, maxShingleFreq: Long = 1000L): DataFrame =
    sizedPairCounts(df, textCol, idCol, n, maxShingleFreq)
      .withColumn("jaccard", round(col("common").cast("double") /
        (col("sz_a") + col("sz_b") - col("common")), 6))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))

  /** Asymmetric CONTAINMENT near-dup — `common / min(|A|, |B|)`: the
    * quote-inclusion detector Jaccard structurally misses. A short doc
    * embedded verbatim in a long one scores Jaccard ≈ |B|/|A| (low for
    * a big size gap — below any sane threshold) but containment 1.0;
    * training corpora are full of exactly that shape (quoted posts,
    * boilerplate-wrapped articles, doc+appendix), and keeping both
    * members double-counts the shared text. Same capped shingle-join
    * skeleton as [[ngramJaccardPairs]] — the metric, not the plan,
    * is what changes — and the judged output carries BOTH scores so
    * the divergence is visible in the result. */
  def containmentPairs(df: DataFrame, textCol: String, idCol: String,
      n: Int, threshold: Double, maxShingleFreq: Long = 1000L): DataFrame =
    sizedPairCounts(df, textCol, idCol, n, maxShingleFreq)
      .withColumn("containment", round(col("common").cast("double") /
        least(col("sz_a"), col("sz_b")), 6))
      .withColumn("jaccard", round(col("common").cast("double") /
        (col("sz_a") + col("sz_b") - col("common")), 6))
      .filter(col("containment") >= threshold)
      .select(col("id_a"), col("id_b"), col("containment"), col("jaccard"))

  /** Shared candidate-pair skeleton of the shingle-overlap family:
    * distinct shingles per doc, over-frequent-shingle cap, one
    * shingle-keyed self-join to (id_a < id_b, common) counts, doc
    * sizes joined back. Quadratic only within a shingle's posting
    * list, which the cap bounds. */
  private def sizedPairCounts(df: DataFrame, textCol: String, idCol: String,
      n: Int, maxShingleFreq: Long): DataFrame = {
    // per-doc distinct computed row-local (ids unique per doc): a
    // global .distinct() would pay a full shingle-string exchange
    // before the postings shuffle this operator actually needs
    val sh = graft.text.TextAnalysis
      .distinctShingleRows(df, idCol, textCol, n)
    // stopword-shingle guard as a broadcast anti-join: the over-frequent
    // set is tiny by construction (few shingles appear in >cap docs), and
    // the groupBy gets map-side partial aggregation — a count window over
    // the shingle partition would shuffle+sort every row with no partials
    val overCap = sh.groupBy(col("shingle"))
      .agg(count(lit(1)).as("__freq"))
      .filter(col("__freq") > maxShingleFreq)
      .select(col("shingle"))
    val capped = sh.join(broadcast(overCap), Seq("shingle"), "left_anti")
    val sizes = sh.groupBy(col("id")).agg(count(lit(1)).as("sz"))
    capped.as("a").join(capped.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("common"))
      .join(sizes.withColumnRenamed("id", "id_a")
        .withColumnRenamed("sz", "sz_a"), "id_a")
      .join(sizes.withColumnRenamed("id", "id_b")
        .withColumnRenamed("sz", "sz_b"), "id_b")
  }

  // ── MinHash + LSH ──────────────────────────────────────────────────
  /** MinHash signature: k independent permutations approximated by
    * seeded xxhash64 over the shingle; the signature is the per-seed
    * minimum. One narrow projection per document. */
  def minhashSignature(c: Column, n: Int, numHashes: Int): Column = {
    val sh = array_distinct(shingles(c, n))
    val mins = (0 until numHashes).map { seed =>
      aggregate(sh, lit(Long.MaxValue),
        (acc, x) => least(acc, xxhash64(lit(seed), x)))
    }
    array(mins: _*)
  }

  /** MinHash-LSH near-dup candidate pairs with exact-Jaccard
    * verification of candidates only.
    *
    * Columnar signature build: explode shingles → per-seed min
    * aggregates (one shuffle on id, all codegen'd) → band hashes over
    * signature columns → shuffle on (band,hash) → pair within bucket →
    * verify. The array-expression form ([[minhashSignature]]) is
    * equivalent but Catalyst inlines the nested aggregates once per
    * band, exploding plan size — the columnar build keeps planning flat
    * (measured ~15s → sub-second on the same input).
    */
  /** 60-bit integer from an md5 prefix — the PORTABLE hash: Spark's
    * `conv(substr(md5, 1, 15), 16, 10)` equals DuckDB's
    * `CAST('0x' || substr(md5, 1, 15) AS BIGINT)` value-for-value, so a
    * sketch built on it is oracle-checkable end to end. */
  def md5Hash64(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** (id, band, h) LSH bucket rows — the shared sketch build behind
    * [[minhashLshPairs]] (self-join form) and the persisted
    * incremental index ([[buildMinhashIndex]]). Per-document
    * computation only, so buckets built over any partition of the
    * corpus equal the corresponding slice of buckets built over the
    * whole. */
  def lshBucketRows(df: DataFrame, textCol: String, idCol: String,
      n: Int, numHashes: Int, bands: Int,
      portableHash: Boolean): DataFrame = {
    val r = numHashes / bands
    // no distinct: min-aggregation is duplicate-insensitive, and the
    // dedupe would cost a full shuffle before the signature shuffle
    val toks = graft.text.TextAnalysis.shingleRows(df, idCol, textCol, n)
      .withColumnRenamed("shingle", "sh")
    def comboHash(cs: Seq[Column]): Column =
      if (portableHash) md5Hash64(concat_ws(",", cs: _*))
      else xxhash64(cs: _*)
    // Seeded hash families. Portable mode pays md5 (the only hash both
    // engines share), so the k functions come from ONE pair of base
    // hashes via the 2-universal combination h1 + s·h2 — 2 md5 per
    // shingle row instead of k (28-bit bases keep h1 + 31·h2 < 2^33,
    // far from long overflow; '|' separates salt from token so salts
    // can't collide into each other). xxhash64 mode just reseeds — the
    // hash is cheap enough to run k times.
    val (hashed, sigAggs) =
      if (portableHash) {
        def md5Hash28(salt: String, c: Column): Column =
          conv(substring(md5(concat(lit(salt), lit("|"), c)), 1, 7), 16, 10)
            .cast("long")
        val h = toks.select(col("id"),
          md5Hash28("1", col("sh")).as("__h1"),
          md5Hash28("2", col("sh")).as("__h2"))
        (h, (0 until numHashes).map(s =>
          min(col("__h1") + lit(s.toLong) * col("__h2")).as(s"m$s")))
      } else {
        (toks, (0 until numHashes).map(s =>
          min(xxhash64(lit(s), col("sh"))).as(s"m$s")))
      }
    val sig = hashed.groupBy(col("id")).agg(sigAggs.head, sigAggs.tail: _*)
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        comboHash((b * r until (b + 1) * r).map(i => col(s"m$i")))
          .as("h"))
    }
    sig.select(col("id"), explode(array(bandCols: _*)).as("bh"))
      .select(col("id"), col("bh.band").as("band"), col("bh.h").as("h"))
  }

  /** Distinct lowercase token set per document — the exact-Jaccard
    * verification payload; precomputed per DOCUMENT (O(n)), not per
    * candidate pair. */
  private[dedup] def tokenSets(df: DataFrame, textCol: String,
      idCol: String): DataFrame =
    df.select(col(idCol).as("id"),
      array_distinct(tokens(lower(col(textCol)))).as("tok"))

  private def verifyJaccard(candidates: DataFrame, toksA: DataFrame,
      toksB: DataFrame, verifyThreshold: Double): DataFrame =
    candidates
      .join(toksA.select(col("id").as("id_a"), col("tok").as("tok_a")),
        "id_a")
      .join(toksB.select(col("id").as("id_b"), col("tok").as("tok_b")),
        "id_b")
      .withColumn("__inter",
        size(array_intersect(col("tok_a"), col("tok_b"))).cast("double"))
      .withColumn("jaccard", round(col("__inter") /
        (size(col("tok_a")) + size(col("tok_b")) - col("__inter")), 6))
      .filter(col("jaccard") >= verifyThreshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))

  /** One MinHash sketch of a document frame: (band buckets, token
    * sets). The probe / in-batch-pair / index-append steps of a
    * streaming micro-batch all consume exactly these two frames, so a
    * caller that runs more than one step should compute the sketch
    * ONCE (and persist it) and use the `…FromSketch` variants — the
    * convenience wrappers each re-shingle and re-hash the input
    * (guide §1.2: don't compute the same thing three times). */
  def minhashSketch(df: DataFrame, textCol: String, idCol: String,
      n: Int = 3, numHashes: Int = 32, bands: Int = 8,
      portableHash: Boolean = false): (DataFrame, DataFrame) =
    (lshBucketRows(df, textCol, idCol, n, numHashes, bands, portableHash),
      tokenSets(df, textCol, idCol))

  def minhashLshPairs(df: DataFrame, textCol: String, idCol: String,
      n: Int = 3, numHashes: Int = 32, bands: Int = 8,
      verifyThreshold: Double = 0.5,
      portableHash: Boolean = false): DataFrame = {
    val (buckets, texts) = minhashSketch(df, textCol, idCol, n,
      numHashes, bands, portableHash)
    minhashLshPairsFromSketch(buckets, texts, verifyThreshold)
  }

  /** [[minhashLshPairs]] over a precomputed sketch. */
  def minhashLshPairsFromSketch(buckets: DataFrame, texts: DataFrame,
      verifyThreshold: Double): DataFrame = {
    val candidates = buckets.as("a").join(buckets.as("b"),
        col("a.band") === col("b.band") && col("a.h") === col("b.h") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    verifyJaccard(candidates, texts, texts, verifyThreshold)
  }

  /** Persist the MinHash-LSH INDEX of a corpus: flattened band buckets
    * (`id, band, h` — a few dozen bytes/doc) and the verification
    * token sets. This is what makes dedup INCREMENTAL at 100 TB: the
    * daily increment is checked against the stored index
    * ([[incrementalDupes]]) without rescanning or re-sketching a byte
    * of the historical corpus; the increment's own buckets append to
    * the index afterwards. */
  def buildMinhashIndex(df: DataFrame, textCol: String, idCol: String,
      path: String, n: Int = 3, numHashes: Int = 32, bands: Int = 8,
      portableHash: Boolean = false): Unit = {
    // the two sub-index writes land in disjoint directories with no
    // ordering contract (no Failpoint here — the chaos-ordered pair is
    // the APPEND path) — overlap them from driver threads (guide §2.6)
    graft.etl.Utils.inParallel(
      () => lshBucketRows(df, textCol, idCol, n, numHashes, bands,
        portableHash)
        .write.mode("overwrite").parquet(s"$path/buckets"),
      () => tokenSets(df, textCol, idCol)
        .write.mode("overwrite").parquet(s"$path/tokens"))
    ()
  }

  /** Append an increment's sketch rows to a stored index — the WRITE
    * half of the incremental lifecycle ([[incrementalDupes]] is the
    * read half): today's batch checks against history, then its own
    * buckets + token sets join the index so tomorrow's batch sees it.
    * Append-only: historical posting files are never rewritten. Safe
    * under at-least-once replay by CONSTRUCTION rather than by fencing:
    * a re-appended sketch row is identical to the one already there, so
    * it can only re-create candidate pairs that the downstream
    * `distinct()` + verify collapse — duplicate index rows never change
    * the verified answer. Sketch params must match the build's. */
  def appendToMinhashIndex(df: DataFrame, textCol: String, idCol: String,
      path: String, n: Int = 3, numHashes: Int = 32, bands: Int = 8,
      portableHash: Boolean = false): Unit = {
    val (buckets, toks) = minhashSketch(df, textCol, idCol, n, numHashes,
      bands, portableHash)
    appendSketchToMinhashIndex(buckets, toks, path)
  }

  /** [[appendToMinhashIndex]] over a precomputed sketch. */
  def appendSketchToMinhashIndex(buckets: DataFrame, toks: DataFrame,
      path: String): Unit = {
    buckets.write.mode("append").parquet(s"$path/buckets")
    graft.Failpoints.point("minhash.append.buckets_done")
    toks.write.mode("append").parquet(s"$path/tokens")
  }

  /** Tombstone-DELETE documents from a stored MinHash index — the
    * takedown primitive, symmetric with the ANN side
    * (`similarity.Ann.deleteFromIvfIndex`): a removed document must
    * stop MATCHING immediately (its sketch rows may not generate
    * candidates against tomorrow's increment), and its bytes must
    * leave the index at the next [[compactMinhashIndex]]. The ids land
    * as an append-only tombstone file set that [[incrementalDupes]]
    * anti-joins — O(ids), no posting rewrite on the takedown path;
    * duplicate tombstone rows from at-least-once callers collapse in
    * the probe's distinct. The id column's type is PRESERVED (kernel
    * contract — `graft.index.IndexLifecycle`): a cast would null out
    * non-numeric ids and silently no-op the takedown. */
  def deleteFromMinhashIndex(ids: DataFrame, idCol: String,
      path: String): Unit =
    graft.index.IndexLifecycle.appendTombstones(ids, idCol, "id",
      s"$path/tombstones")

  /** Compact a stored index — the MAINTENANCE op that keeps the
    * append-only lifecycle viable at 100 TB: every
    * [[appendToMinhashIndex]] adds one file set per increment
    * partition, and after months of daily appends the band-join's cost
    * is dominated by FILE COUNT and row-group locality, not bytes.
    * Compaction rewrites the buckets range-clustered by (band, h) —
    * so a probe's bucket keys land in few row groups and min/max
    * stats prune the rest — and the token sets hash-clustered by id;
    * it also `distinct()`s both sides, collapsing the duplicate rows
    * an at-least-once replay may have appended (safe: the index is a
    * SET — see [[appendToMinhashIndex]]). Semantically a no-op by
    * contract: spec-pinned that incremental results are IDENTICAL
    * before/after, judged end-to-end through `dedup_index_compact`.
    *
    * `buckets` and `tokens` each publish through the lake's one swap
    * protocol (`graft.sinks.Sinks.swap`, as the IVF side's vacuum):
    * a probe never sees a partial directory, and a crash in any swap
    * window is healed by the next compaction. The pass is
    * SNAPSHOT-SCOPED: the tombstone FILE SET is listed once at entry,
    * that one set feeds BOTH sub-swaps (a mid-run takedown can never be
    * applied to buckets but not tokens), and only that set is deleted
    * at the end — tombstones appended by a concurrent
    * [[deleteFromMinhashIndex]] survive for the next pass instead of
    * being destroyed unapplied. */
  def compactMinhashIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, files: Int = 8): Unit = {
    import graft.index.IndexLifecycle._
    // compaction is also the takedown VACUUM: tombstoned docs'
    // ([[deleteFromMinhashIndex]]) sketch rows and token sets are
    // dropped from the rewrite, so after compaction the deleted
    // documents' bytes are GONE — masking until then, purging here
    val tombSnap = snapshotFiles(s"$path/tombstones")
    val tomb = readSnapshot(spark, s"$path/tombstones", tombSnap)
      .map(_.distinct())
    def swapIn(sub: String, clustered: DataFrame => DataFrame): Boolean =
      graft.sinks.Sinks.swap(s"$path/$sub") { dir =>
        val src = spark.read.parquet(s"$path/$sub").distinct()
        val kept = tomb.fold(src)(t =>
          src.join(t, Seq("id"), "left_anti"))
        clustered(kept).write.mode("overwrite").parquet(dir)
        true
      }
    // the two sub-swaps stage into disjoint directories from the SAME
    // tombstone snapshot (the mid-run-takedown guarantee is the
    // snapshot, not the order) and no spec or Failpoint orders them —
    // overlap the rewrites from driver threads (guide §2.6)
    graft.etl.Utils.inParallel(
      () => swapIn("buckets", df => df
        .repartitionByRange(files, col("band"), col("h"))
        .sortWithinPartitions(col("band"), col("h"))),
      () => swapIn("tokens", df => df.repartition(files, col("id"))))
    deleteSnapshot(s"$path/tombstones", tombSnap)
  }

  /** Near-dups of a NEW batch against a stored corpus index: sketch
    * only the new docs, equi-join their buckets against the index
    * (shuffle carries bucket rows, never text), verify candidates with
    * the STORED token sets. Returns (id_a = corpus doc, id_b = new
    * doc, jaccard). New-vs-new duplicates are deliberately out of
    * scope — run [[minhashLshPairs]] on the increment for those.
    * Sketch params must match the ones the index was built with. */
  def incrementalDupes(spark: org.apache.spark.sql.SparkSession,
      newDf: DataFrame, textCol: String, idCol: String, indexPath: String,
      n: Int = 3, numHashes: Int = 32, bands: Int = 8,
      verifyThreshold: Double = 0.5,
      portableHash: Boolean = false): DataFrame = {
    val (buckets, toks) = minhashSketch(newDf, textCol, idCol, n,
      numHashes, bands, portableHash)
    incrementalDupesFromSketch(spark, buckets, toks, indexPath,
      verifyThreshold)
  }

  /** [[incrementalDupes]] over the increment's precomputed sketch. */
  def incrementalDupesFromSketch(spark: org.apache.spark.sql.SparkSession,
      buckets: DataFrame, newToks: DataFrame, indexPath: String,
      verifyThreshold: Double): DataFrame = {
    val newBuckets = buckets
      .select(col("band"), col("h"), col("id").as("id_b"))
    // tombstoned docs ([[deleteFromMinhashIndex]]) are masked at probe
    // time (O(ids) anti-join); their bytes leave the index at the next
    // [[compactMinhashIndex]]
    val liveBuckets = graft.index.IndexLifecycle.maskTombstoned(
      spark.read.parquet(s"$indexPath/buckets"), "id",
      s"$indexPath/tombstones")
    val corpusBuckets = liveBuckets
      .select(col("band"), col("h"), col("id").as("id_a"))
    val candidates = corpusBuckets.join(newBuckets, Seq("band", "h"))
      // a doc is never a near-dup of ITSELF: under at-least-once replay
      // the batch's own sketch rows may already sit in the index (crash
      // between the index append and the checkpoint commit), and without
      // this filter every replayed doc would match itself at jaccard 1.0
      // and pollute the rewritten results partition (found by the chaos
      // suite's buckets-appended-then-killed schedule)
      .filter(col("id_a") =!= col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
    val corpusToks = spark.read.parquet(s"$indexPath/tokens")
    verifyJaccard(candidates, corpusToks, newToks, verifyThreshold)
  }

  // ── SimHash near-dup ───────────────────────────────────────────────
  /** SimHash near-dup pairs: 64-bit fingerprints bucketed by 16-bit
    * quadrant (any pair within Hamming distance ≤ 3 of each other share
    * at least one identical quadrant — pigeonhole), verified by exact
    * Hamming distance. */
  def simhashPairs(df: DataFrame, textCol: String, idCol: String,
      maxHamming: Int = 3, portableHash: Boolean = false): DataFrame = {
    val quadBits = if (portableHash) 15 else 16
    val mask = (1L << quadBits) - 1
    val withSim = graft.text.TextAnalysis.simhashTable(df, idCol, textCol,
      portableHash)
    val quads = withSim.select(col("id"), col("sim"),
      explode(array((0 until 4).map(q => struct(lit(q).as("q"),
        shiftright(col("sim"), q * quadBits).bitwiseAND(mask).as("v"))): _*))
        .as("quad"))
    quads.as("a").join(quads.as("b"),
        col("a.quad") === col("b.quad") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        hamming64(col("a.sim"), col("b.sim")).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  // ── Embedding cosine near-dup ──────────────────────────────────────
  /** Cosine similarity of two array embeddings — the native codegen
    * expression ([[graft.functions.CosineSimilarity]]; one fused loop
    * in generated code vs three interpreted higher-order functions). */
  def cosine(a: Column, b: Column): Column =
    org.apache.spark.sql.graftx.CosineSimilarity(a, b)

  /** The composed higher-order-function form, kept as a cross-check
    * baseline for the native expression. */
  def cosineHof(a: Column, b: Column): Column = {
    val dot = aggregate(zip_with(a, b, (x, y) => x * y),
      lit(0.0), (acc, x) => acc + x)
    val na = sqrt(aggregate(transform(a, x => x * x), lit(0.0),
      (acc, x) => acc + x))
    val nb = sqrt(aggregate(transform(b, x => x * x), lit(0.0),
      (acc, x) => acc + x))
    dot / (na * nb)
  }

  /** Embedding near-dup pairs above a cosine threshold over a bounded
    * id range (brute pairing; for corpus scale use the LSH-bucketed path
    * in graft.similarity.Ann). */
  def embeddingNearDups(df: DataFrame, vecCol: String, idCol: String,
      threshold: Double): DataFrame = {
    val v = df.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("v"))
    v.as("a").join(v.as("b"), col("a.id") < col("b.id"))
      .withColumn("cos", round(cosine(col("a.v"), col("b.v")), 6))
      .filter(col("cos") >= threshold)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"), col("cos"))
  }
}
