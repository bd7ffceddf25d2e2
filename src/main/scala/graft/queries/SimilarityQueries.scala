package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.similarity.Ann

/** Similarity search over the `embeddings` table: exact brute-force
  * cosine top-k (oracle-verified) and the LSH-bucketed scale path
  * (rows-only: hyperplanes are seeded literals; recall pinned in
  * AnnMultimodalSpec). */
object SimilarityQueries extends QuerySection {
  import Catalog.Q

  private def emb(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "embeddings")

  /** Exact top-5 neighbors for the first 10 vectors. */
  /** kNN LABEL PROPAGATION — the auto-labeling primitive of a
    * training-data pipeline: each "unlabeled" vector (vec_id < 30
    * plays that role) takes the majority label of its k=5 exact-cosine
    * neighbors among the labeled rest, ties broken by summed neighbor
    * similarity then label. Same broadcast-scored kernel as `ann_topk`
    * plus a label join on the neighbor ids; votes and vote weight ride
    * one (query, label)-bounded aggregate. The weight tie-break is
    * cross-engine safe: summands are already rounded to 6 decimals, so
    * the exact sum is a multiple of 1e-6 and re-rounding absorbs float
    * association error. At scale the brute kernel swaps for the IVF/PQ
    * path — the vote logic doesn't change. */
  private def annKnnClassify(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val queries = e.filter(col("vec_id") < 30)
    val corpus = e.filter(col("vec_id") >= 30)
    val nn = Ann.bruteTopK(queries, corpus, "embedding", "vec_id", k = 5)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(desc("votes"), desc("weight"), col("label"))
    nn.join(corpus.select(col("vec_id").as("corpus_id"), col("label")),
        "corpus_id")
      .groupBy(col("query_id"), col("label"))
      .agg(count(lit(1)).as("votes"), round(sum(col("cos")), 6).as("weight"))
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1)
      .select(col("query_id"), col("label").as("predicted"),
        col("votes"), col("weight"))
      .orderBy(col("query_id"))
  }

  private def annTopk(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    Ann.bruteTopK(e.filter(col("vec_id") < 10), e, "embedding", "vec_id",
      k = 5)
      .orderBy(col("query_id"), col("rank"))
  }

  /** Johnson–Lindenstrauss signed projection (64→16) + top-5 in the
    * projected space — the dimensionality-reduction prefilter beside
    * int8 quantization (precision) and PQ (codebooks). The md5-derived
    * ±1 matrix, the per-coordinate 6-dp rounding, the projected-space
    * cosine, and the (cos desc, id) ranking all replay exactly in the
    * oracle. */
  private def annJl(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    Ann.jlTopK(e.filter(col("vec_id") < 10), e, "embedding", "vec_id",
      k = 5, dIn = 64, dOut = 16)
      .withColumnRenamed("cos", "cos_jl")
      .orderBy(col("query_id"), col("rank"))
  }

  /** NDCG@10 discount table 1/log2(rank+1), computed ONCE here and
    * embedded as literals in BOTH the Spark plan and the DuckDB oracle
    * (Double.toString round-trips exactly) — so the two engines share
    * the same bits and no libm log2 divergence can reach the hash. */
  private val ndcgDiscounts: Seq[Double] =
    (1 to 10).map(r => 1.0 / (math.log(r + 1.0) / math.log(2.0)))

  /** GRADED ranking quality — NDCG@10 of the IVF path against the
    * exact ranking: recall@k (ann_recall) treats every exact top-k
    * neighbor as equally important; NDCG is the metric that charges
    * an approximate index for returning the right neighbors in the
    * WRONG ORDER (gain = 11−exact_rank, discount = 1/log2(rank+1)).
    * Together they are the standard tuning dashboard for an ANN
    * deployment. Integer `hits` anchors the float columns. Scale:
    * two kernel invocations (each one broadcast-join + one window)
    * plus two (query, neighbor)-keyed aggregates over ≤ 10·|Q| rows. */
  private def annNdcg(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val q = e.filter(col("vec_id") < 10)
    val disc = typedLit(ndcgDiscounts)
    val exact = Ann.bruteTopK(q, e, "embedding", "vec_id", k = 10)
      .select(col("query_id"), col("corpus_id"),
        (lit(11) - col("rank")).cast("double").as("rel"),
        element_at(disc, col("rank")).as("disc"))
    val ivf = Ann.ivfTopK(q, e, "embedding", "vec_id", k = 10,
        nlist = 8, nprobe = 3)
      .select(col("query_id"), col("corpus_id"),
        element_at(disc, col("rank")).as("ivf_disc"))
    // ONE full outer join + ONE aggregate yields dcg, idcg, and hits
    // together — the exact-ranking subplan is scanned once, not once
    // per metric (at corpus scale the brute/IVF scans dominate; the
    // metric layer must not multiply them)
    ivf.join(exact, Seq("query_id", "corpus_id"), "full")
      .groupBy(col("query_id"))
      .agg(
        round(sum(coalesce(col("rel"), lit(0.0)) *
          coalesce(col("ivf_disc"), lit(0.0))), 6).as("dcg"),
        round(sum(coalesce(col("rel"), lit(0.0)) *
          coalesce(col("disc"), lit(0.0))), 6).as("idcg"),
        sum(when(col("rel").isNotNull && col("ivf_disc").isNotNull, 1L)
          .otherwise(0L)).as("hits"))
      .select(col("query_id"), col("hits"), col("dcg"), col("idcg"),
        round(col("dcg") / col("idcg"), 6).as("ndcg"))
      .orderBy(col("query_id"))
  }

  /** ANN RECALL REPORT — the evaluation harness as a first-class
    * judged operator: per query, how many of the exact top-5 does
    * each approximate path (LSH buckets, IVF cell probes) actually
    * return? Recall@k is THE number an ANN deployment is tuned by
    * (planes/nlist/nprobe trade recall for scan fraction), and
    * computing it is just the three kernels this module already has
    * plus two semi-join overlap counts on (query, neighbor) pairs.
    * The oracle recomputes all three paths in SQL — reusing the very
    * replicas that judge them individually — so even the evaluator is
    * evaluated. */
  private def annRecall(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val q = e.filter(col("vec_id") < 10)
    def pairs(df: DataFrame): DataFrame =
      df.select(col("query_id"), col("corpus_id"))
    val exact = pairs(Ann.bruteTopK(q, e, "embedding", "vec_id", k = 5))
    val lsh = pairs(Ann.lshTopK(q, e, "embedding", "vec_id", k = 5,
      numPlanes = 6, dim = 64))
      .withColumn("__l", lit(1))
    val ivf = pairs(Ann.ivfTopK(q, e, "embedding", "vec_id", k = 5,
      nlist = 8, nprobe = 3))
      .withColumn("__i", lit(1))
    exact
      .join(lsh, Seq("query_id", "corpus_id"), "left")
      .join(ivf, Seq("query_id", "corpus_id"), "left")
      .groupBy(col("query_id"))
      .agg(sum(when(col("__l").isNotNull, 1L).otherwise(0L)).as("lsh_hits"),
        sum(when(col("__i").isNotNull, 1L).otherwise(0L)).as("ivf_hits"))
      .select(col("query_id"), col("lsh_hits"), col("ivf_hits"),
        round(col("lsh_hits") / 5.0, 4).as("recall_lsh"),
        round(col("ivf_hits") / 5.0, 4).as("recall_ivf"))
      .orderBy(col("query_id"))
  }

  /** LSH-bucketed top-k — oracle-checked: the seeded hyperplanes inline
    * into the SQL as double literals, DuckDB's list_inner_product sums
    * in the same index order as the native DotProduct loop, so bucket
    * assignments (sign bits) and in-bucket cosine ranks hash-match. */
  private def annLsh(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    Ann.lshTopK(e.filter(col("vec_id") < 10), e, "embedding", "vec_id",
      k = 5, numPlanes = 6, dim = 64)
      .orderBy(col("query_id"), col("rank"))
  }

  /** FILTERED vector search ([[Ann.buildIvfIndex]] with an attribute
    * payload → [[Ann.ivfIndexTopK]] with a `where` predicate): the
    * vector-DB staple — "nearest neighbors among label < 3" — where
    * the metadata gate lands on the pruned postings SCAN (Parquet
    * pushdown inside the probed cells), not as a post-filter that can
    * come back short of k. The oracle is the same IVF replica over the
    * corpus restricted to the predicate: per-row cell assignment means
    * a filter never moves a vector between cells, so pre-filtering
    * within probed cells IS the exact semantic. */
  private def annFiltered(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val path = graft.etl.Utils.scratchDir("graft_ivfflt") + "/idx"
    Ann.buildIvfIndex(e, "embedding", "vec_id", path, nlist = 8,
      attrCols = Seq("label"))
    Ann.ivfIndexTopK(s, e.filter(col("vec_id") < 10), "embedding",
        "vec_id", path, k = 5, nprobe = 3,
        where = Some(col("label") < 3))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Filtered search over a LIVE (streamed) index
    * ([[Ann.appendIvfBatch]] with an attribute payload →
    * [[Ann.ivfIndexTopK]] with a `where` predicate): the index is
    * built from history (vec_id < 400 — contains the 8 seed vectors,
    * so the codebook equals the full-corpus one), the rest arrives as
    * an exactly-once increment batch CARRYING its metadata, and the
    * filtered probe over base ∪ increments must equal the inline IVF
    * route over the label-restricted FULL corpus — the same oracle as
    * `ann_filtered`: a streamed index is exactly as filterable as a
    * rebuilt one, which is the serving contract that makes metadata
    * gates usable on continuously-fed corpora. */
  private def annFilteredLive(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val path = graft.etl.Utils.scratchDir("graft_ivffltlive") + "/idx"
    Ann.buildIvfIndex(e.filter(col("vec_id") < 400), "embedding",
      "vec_id", path, nlist = 8, attrCols = Seq("label"))
    Ann.appendIvfBatch(s, e.filter(col("vec_id") >= 400), "embedding",
      "vec_id", path, batchId = 0L, attrCols = Seq("label"))
    Ann.ivfIndexTopK(s, e.filter(col("vec_id") < 10), "embedding",
        "vec_id", path, k = 5, nprobe = 3,
        where = Some(col("label") < 3))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Filtered search under a STARVING predicate — the k-guarantee
    * ([[Ann.ivfIndexTopKEscalating]]) judged end-to-end. The attribute
    * predicate (`vid < 4`, the id stored as a payload column at build)
    * keeps at most 4 postings alive in the WHOLE index, so every
    * query's first probe (nprobe = 1) comes back short of k = 5 and
    * escalation widens cell coverage 1 → 2 → 4 → 8 (= nlist, every
    * cell): the judged rows are therefore the EXACT filtered top-k
    * over all cells — precisely the oracle's brute-force replica over
    * the predicate-restricted corpus. Fewer matches than k exist
    * anywhere, so no query can stop early: the escalation path is
    * FORCED and the judged semantics are deterministic at every SF. */
  private def annFilteredEscalate(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val path = graft.etl.Utils.scratchDir("graft_ivfesc") + "/idx"
    Ann.buildIvfIndex(e.withColumn("vid", col("vec_id")), "embedding",
      "vec_id", path, nlist = 8, attrCols = Seq("vid"))
    Ann.ivfIndexTopKEscalating(s, e.filter(col("vec_id") < 10),
        "embedding", "vec_id", path, k = 5, nprobe = 1,
        where = Some(col("vid") < 4))
      .orderBy(col("query_id"), col("rank"))
  }

  /** MMR diversity re-ranking ([[Ann.mmrTopK]]): greedy maximal
    * marginal relevance over the exact top-20 candidates — the five
    * selection steps (λ = 0.7, ties by corpus id, 6-dp-rounded
    * relevance AND pairwise sims) unroll in the oracle as chained
    * CTEs, so the judged rows prove the greedy recurrence itself, not
    * just the candidate set. */
  private def annMmr(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    Ann.mmrTopK(e.filter(col("vec_id") < 8), e, "embedding", "vec_id",
      k = 5, lambdaRel = 0.7, candK = 20)
      .orderBy(col("query_id"), col("rank"))
  }

  /** IVF-bucketed top-k — oracle-checked: the codebook (first nlist
    * corpus vectors) reconstructs inside the SQL, assignments/probes
    * replicate the struct-max tie-break (higher dot, then higher cell
    * index). */
  private def annIvf(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    Ann.ivfTopK(e.filter(col("vec_id") < 10), e, "embedding", "vec_id",
      k = 5, nlist = 8, nprobe = 3)
      .orderBy(col("query_id"), col("rank"))
  }

  /** The PERSISTED-index IVF path ([[Ann.buildIvfIndex]] →
    * [[Ann.ivfIndexTopK]]): the corpus is cell-assigned ONCE and
    * written as cell-partitioned postings + codebook; the query batch
    * probes only its cells' partitions (static partition pruning on
    * the postings scan — the serving shape where a 100 TB corpus scan
    * becomes nprobe/nlist of the files). Same parameters as `ann_ivf`
    * and judged against the SAME oracle SQL: the stored-index route
    * must reproduce the inline route's results exactly — that
    * round-trip equality is what's being judged. */
  private def annIvfIndex(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val path = graft.etl.Utils.scratchDir("graft_ivfidx") + "/idx"
    Ann.buildIvfIndex(e, "embedding", "vec_id", path, nlist = 8)
    Ann.ivfIndexTopK(s, e.filter(col("vec_id") < 10), "embedding",
        "vec_id", path, k = 5, nprobe = 3)
      .orderBy(col("query_id"), col("rank"))
  }

  /** INCREMENTAL index maintenance judged ([[Ann.appendIvfBatch]]):
    * the index is built from the historical slice (vec_id < 400 —
    * which contains the 8 seed vectors, so the codebook equals the
    * full-corpus one), the increment (vec_id ≥ 400) lands as one
    * increment-log batch assigned with the index's stored codebook,
    * and the query result over base ∪ increments must equal the
    * inline full-corpus route — judged against the SAME oracle SQL as
    * `ann_ivf`. This is the daily-batch contract at 100 TB: history is
    * never rescanned or rewritten, and correctness of the merged index
    * is oracle-checked, not assumed. */
  private def annIvfIncremental(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val path = graft.etl.Utils.scratchDir("graft_ivfinc") + "/idx"
    Ann.buildIvfIndex(e.filter(col("vec_id") < 400), "embedding",
      "vec_id", path, nlist = 8)
    Ann.appendIvfBatch(s, e.filter(col("vec_id") >= 400), "embedding",
      "vec_id", path, batchId = 0L)
    Ann.ivfIndexTopK(s, e.filter(col("vec_id") < 10), "embedding",
        "vec_id", path, k = 5, nprobe = 3)
      .orderBy(col("query_id"), col("rank"))
  }

  /** The index takedown path judged END-TO-END
    * ([[Ann.deleteFromIvfIndex]] → [[Ann.vacuumIvfIndex]]): build from
    * history, append an increment, tombstone every vec_id % 7 == 0,
    * physically vacuum (deleted bytes GONE, increment log folded into
    * the base), then probe — the result must equal the IVF replica
    * over the corpus MINUS the deleted slice. The codebook is
    * untouched throughout (deletes never retrain), which is why the
    * oracle only filters the corpus CTE. */
  private def annIvfDelete(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val path = graft.etl.Utils.scratchDir("graft_ivfdel") + "/idx"
    Ann.buildIvfIndex(e.filter(col("vec_id") < 400), "embedding",
      "vec_id", path, nlist = 8)
    Ann.appendIvfBatch(s, e.filter(col("vec_id") >= 400), "embedding",
      "vec_id", path, batchId = 0L)
    Ann.deleteFromIvfIndex(e.filter(col("vec_id") % 7 === 0)
      .select(col("vec_id")), "vec_id", path)
    Ann.vacuumIvfIndex(s, path)
    Ann.ivfIndexTopK(s, e.filter(col("vec_id") < 10), "embedding",
        "vec_id", path, k = 5, nprobe = 3)
      .orderBy(col("query_id"), col("rank"))
  }

  /** Exact range search: all neighbors with cosine ≥ 0.25 of the first
    * 10 vectors — the unknown-neighbor-count dual of `ann_topk`,
    * oracle-checked pair-for-pair. */
  private def annRange(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    Ann.rangeSearch(e.filter(col("vec_id") < 10), e, "embedding", "vec_id",
      minCos = 0.25)
      .orderBy(col("query_id"), col("corpus_id"))
  }

  /** Hard-negative mining for contrastive training: for each query
    * vector, the top-3 most-similar candidates with a DIFFERENT label
    * — the pairs a metric-learning loss learns most from. Same
    * broadcast-scored shape as `ann_topk` with a label gate in the
    * pair predicate, so the label filter happens before ranking ever
    * materializes a row. */
  private def annHardNegatives(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val q = broadcast(e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"),
        col("embedding").cast("array<double>").as("qv"),
        col("label").as("q_label")))
    val c = e.select(col("vec_id").as("corpus_id"),
      col("embedding").cast("array<double>").as("cv"),
      col("label").as("c_label"))
    val scored = c.join(q, col("query_id") =!= col("corpus_id") &&
        col("q_label") =!= col("c_label"))
      .withColumn("cos", round(
        org.apache.spark.sql.graftx.CosineSimilarity(col("qv"), col("cv")),
        6))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(desc("cos"), col("corpus_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("query_id"), col("q_label"), col("corpus_id"),
        col("c_label"), col("cos"), col("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Maximum-inner-product top-k (MIPS) — the retrieval objective of
    * dot-product-trained embedding models (recommenders, DPR-style
    * retrievers), where the UNNORMALIZED inner product ranks, not
    * cosine: a long vector should outrank a well-aligned short one.
    * Same broadcast-scored kernel as `ann_topk`, ranking on the native
    * codegen'd DotProduct. */
  private def annMips(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graftx.DotProduct
    val e = emb(s, dir)
    val q = broadcast(e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"),
        col("embedding").cast("array<double>").as("qv")))
    val c = e.select(col("vec_id").as("corpus_id"),
      col("embedding").cast("array<double>").as("cv"))
    val scored = c.join(q, col("query_id") =!= col("corpus_id"))
      .withColumn("ip", round(DotProduct(col("qv"), col("cv")), 6))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(desc("ip"), col("corpus_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("corpus_id"), col("ip"), col("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Label-centroid similarity: per-label mean embedding, then each
    * label pair's centroid cosine — a grouped vector aggregate. */
  private def annCentroids(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    // mean embedding per label: explode → avg per (label, dim) → collect
    val byDim = e.select(col("label"),
      posexplode(col("embedding").cast("array<double>")).as(Seq("dim", "x")))
      .groupBy(col("label"), col("dim")).agg(avg(col("x")).as("m"))
    val centroids = byDim.groupBy(col("label"))
      .agg(array_sort(collect_list(struct(col("dim"), col("m"))))
        .as("pairs"))
      .select(col("label"), expr("transform(pairs, p -> p.m)").as("centroid"))
    centroids.as("a").join(centroids.as("b"),
        col("a.label") < col("b.label"))
      .select(col("a.label").as("label_a"), col("b.label").as("label_b"),
        round(graft.dedup.Dedup.cosine(col("a.centroid"), col("b.centroid")),
          4).as("cos"))
      .orderBy(col("label_a"), col("label_b"))
  }

  /** Int8 quantization fidelity, judged like the other sketch entries:
    * every vector's dequantized form must stay within a cosine bound of
    * the original (the bound itself is generous vs the ~1e-4 loss int8
    * actually costs), and the quantized codes must stay in int8 range.
    * The oracle replays the identical quantize→dequantize→cosine
    * pipeline with DuckDB list lambdas. */
  private def annQuantize(s: SparkSession, dir: String): DataFrame = {
    val q = Ann.quantizeInt8(emb(s, dir), "embedding")
    q.select(col("vec_id"),
        (graft.dedup.Dedup.cosine(col("embedding"),
          Ann.dequantizeInt8(col("qvec"), col("qscale"))) >= 0.999)
          .as("ok"),
        (array_min(col("qvec")) >= -127 && array_max(col("qvec")) <= 127)
          .as("in_range"))
      .orderBy(col("vec_id"))
  }

  /** PQ asymmetric-distance top-k — oracle-checked end to end: with
    * `iters = 0` the sub-quantizer codebooks are the first-ksub corpus
    * subvectors (deterministic, no k-means), so DuckDB can replay code
    * assignment (argmax `dot − ‖c‖²/2`, ties → higher codeword id,
    * matching the struct array_max), reconstruction (codeword concat)
    * and the ADC cosine ranking exactly. The trained-codebook path
    * shares every line of this pipeline except the Lloyd loop, which
    * AnnMultimodalSpec pins separately. */
  private def annPq(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val books = Ann.pqCodebooks(e, "embedding", "vec_id", m = 4, ksub = 8,
      iters = 0)
    Ann.pqTopK(e.filter(col("vec_id") < 10), e, "embedding", "vec_id",
      k = 5, books)
      .orderBy(col("query_id"), col("rank"))
  }

  /** IVF-PQ + exact re-rank — the full billion-scale retrieval shape,
    * oracle-checked: cell probe (IVF) bounds which rows are scored, the
    * m-byte PQ code bounds what each costs, and the exact re-rank over
    * the top-20 ADC candidates restores true-cosine order for the
    * final top-5. */
  private def annIvfPq(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val books = Ann.pqCodebooks(e, "embedding", "vec_id", m = 4, ksub = 8,
      iters = 0)
    val cells = Ann.seedCodebook(e, "embedding", "vec_id", nlist = 8)
    val q = e.filter(col("vec_id") < 10)
    val cand = Ann.ivfPqTopK(q, e, "embedding", "vec_id", k = 20, books,
      cells, nprobe = 3)
    Ann.rerank(cand, q, e, "embedding", "vec_id", k = 5)
      .orderBy(col("query_id"), col("rank"))
  }

  /** The dedicated two-stage retrieval contract, judged end to end:
    * PQ-ONLY candidate generation (ADC over 4-byte codes, top-20 —
    * the scores are approximate by construction, so the re-rank has
    * real work to do) → [[Ann.rerank]] exact-cosine top-5 over the
    * original vectors. The output carries BOTH ranks: `rank` is the
    * exact order, `adc_rank` the candidate order it replaced — the
    * oracle checks the reordering itself, not just the survivor set.
    * Candidates are persisted once (200 rows) so the corpus-side ADC
    * scan runs exactly once — at 100 TB the candidate set is the ONLY
    * thing both stages share. */
  private def annRerank(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val books = Ann.pqCodebooks(e, "embedding", "vec_id", m = 4, ksub = 8,
      iters = 0)
    val q = e.filter(col("vec_id") < 10)
    val cand = Ann.pqTopK(q, e, "embedding", "vec_id", k = 20, books)
      // eager localCheckpoint, not persist(): same single-materialization
      // guarantee, but the 200-row block is ContextCleaner-freed with
      // the plan instead of leaking a CacheManager entry per call
      .transform(graft.plans.Pin(_).df)
    Ann.rerank(cand, q, e, "embedding", "vec_id", k = 5)
      .join(cand.select(col("query_id"), col("corpus_id"),
        col("rank").as("adc_rank")), Seq("query_id", "corpus_id"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Hybrid retrieval with reciprocal-rank fusion ([[Ann.rrfFuse]]) —
    * the serving pattern a RAG corpus actually runs: a LEXICAL
    * retriever (BM25 over the document text, the query doc's distinct
    * tokens as the query — `text_bm25`'s scoring on the full postings)
    * and a VECTOR retriever (exact cosine top-K over the aligned
    * embeddings — `ann_topk`'s path) each produce a top-20, and RRF
    * combines them score-free (1/(60+rank) per list). Judged on the
    * fused top-5 per query WITH both source ranks (nullable — a doc in
    * only one list is the interesting case), so the fusion itself is
    * what the oracle checks. Both base scores are rounded to 6 dp
    * before ranking in BOTH engines, so no rank can flip in the last
    * ulp; RRF of integer ranks is rational and rounds identically.
    * Scale shape: postings touch only the query docs' terms (the query
    * side broadcasts), the vector side is the brute path this corpus
    * size warrants (swap [[Ann.ivfTopK]]/[[Ann.pqTopK]] in at scale —
    * fusion is retriever-agnostic), and fusing is one hash aggregate. */
  private def annHybridRrf(s: SparkSession, dir: String): DataFrame = {
    import graft.text.TextAnalysis
    val (k1, b) = (1.2, 0.75)
    val kList = 20
    val docs = graft.Tables.load(s, dir, "documents")
    val toks = TextAnalysis.shingleRows(docs, "doc_id", "text", 1)
    val dl = toks.groupBy(col("id")).agg(count(lit(1)).as("dl"))
    val stats = dl.agg(count(lit(1)).cast("double").as("nd"),
      avg(col("dl")).as("avgdl"))
    val post = toks.groupBy(col("shingle"), col("id"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = post.groupBy(col("shingle"))
      .agg(countDistinct(col("id")).as("dfc"))
    val qTerms = toks.filter(col("id") < 3)
      .select(col("id").as("query_id"), col("shingle")).distinct()
    val idf = log(lit(1.0)
      + (col("nd") - col("dfc") + 0.5) / (col("dfc") + 0.5))
    val norm = col("tf") +
      lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))
    val lexScore = broadcast(qTerms).join(post, Seq("shingle"))
      .filter(col("id") =!= col("query_id"))
      .join(broadcast(dfreq), Seq("shingle"))
      .join(dl, Seq("id"))
      .crossJoin(broadcast(stats))
      .groupBy(col("query_id"), col("id").as("doc_id"))
      .agg(round(sum(idf * col("tf") * (k1 + 1.0) / norm), 6).as("lex"))
    val wLex = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(desc("lex"), col("doc_id"))
    val lexTop = lexScore
      .withColumn("rank", row_number().over(wLex)).filter(col("rank") <= kList)
      .select(col("query_id"), col("doc_id"), col("rank"))
    val e = emb(s, dir)
    val vecTop = Ann.bruteTopK(e.filter(col("vec_id") < 3), e,
        "embedding", "vec_id", kList)
      .select(col("query_id"), col("corpus_id").as("doc_id"), col("rank"))
    Ann.rrfFuse(Seq("lex" -> lexTop, "vec" -> vecTop), kOut = 5)
      .select(col("query_id"), col("rank"), col("doc_id"), col("rrf"),
        col("lex_rank"), col("vec_rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** The k-means UPDATE step oracle-judged (the trained-codebook loop
    * = this step iterated): seed cells from the 8 smallest ids,
    * assignment by max dot (ties → higher cell), per-(cell, dim)
    * means re-normalized to the sphere. Rounding at 6 decimals
    * absorbs partial-sum-order ulps; assignment itself compares dots
    * against EXACT seed literals, so it cannot flip. */
  private def annKmeansStep(s: SparkSession, dir: String): DataFrame =
    Ann.kmeansStepDf(emb(s, dir), "embedding", "vec_id", nlist = 8)
      .orderBy(col("cell"), col("dim"))

  def queries: Map[String, Q] = Map(
    "ann_kmeans_step" -> (annKmeansStep _),
    "ann_quantize" -> (annQuantize _),
    "ann_knn_classify" -> (annKnnClassify _),
    "ann_recall" -> (annRecall _),
    "ann_ndcg" -> (annNdcg _),
    "ann_topk" -> (annTopk _),
    "ann_jl" -> (annJl _),
    "ann_range" -> (annRange _),
    "ann_hard_negatives" -> (annHardNegatives _),
    "ann_mips" -> (annMips _),
    "ann_lsh" -> (annLsh _),
    "ann_ivf" -> (annIvf _),
    "ann_ivf_index" -> (annIvfIndex _),
    "ann_filtered" -> (annFiltered _),
    "ann_filtered_live" -> (annFilteredLive _),
    "ann_filtered_escalate" -> (annFilteredEscalate _),
    "ann_mmr" -> (annMmr _),
    "ann_ivf_incremental" -> (annIvfIncremental _),
    "ann_ivf_delete" -> (annIvfDelete _),
    "ann_pq" -> (annPq _),
    "ann_ivfpq" -> (annIvfPq _),
    "ann_rerank" -> (annRerank _),
    "ann_hybrid_rrf" -> (annHybridRrf _),
    "ann_centroids" -> (annCentroids _)
  )

  /** Recall@5 of the LSH and IVF paths vs exact — built FROM the same
    * SQL replicas that judge each path on its own, so the evaluator's
    * oracle can't drift from the operators'. */
  private def recallOracle: String = {
    val exactSql =
      """WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
        |  FROM embeddings WHERE vec_id < 10),
        |c AS (SELECT vec_id AS corpus_id, embedding::DOUBLE[] AS cv
        |  FROM embeddings),
        |scored AS (
        |  SELECT query_id, corpus_id,
        |    round(list_cosine_similarity(qv, cv), 6) AS cos
        |  FROM q JOIN c ON query_id <> corpus_id)
        |SELECT query_id, corpus_id FROM scored
        |QUALIFY row_number() OVER (PARTITION BY query_id
        |  ORDER BY cos DESC, corpus_id) <= 5""".stripMargin
    s"""WITH exact AS (SELECT * FROM ($exactSql)),
       |lshp AS (SELECT query_id, corpus_id FROM ($lshOracle)),
       |ivfp AS (SELECT query_id, corpus_id FROM ($ivfOracle))
       |SELECT e.query_id,
       |  CAST(sum(CASE WHEN l.corpus_id IS NOT NULL THEN 1 ELSE 0 END)
       |    AS BIGINT) AS lsh_hits,
       |  CAST(sum(CASE WHEN i.corpus_id IS NOT NULL THEN 1 ELSE 0 END)
       |    AS BIGINT) AS ivf_hits,
       |  round(sum(CASE WHEN l.corpus_id IS NOT NULL THEN 1 ELSE 0 END)
       |    / 5.0, 4) AS recall_lsh,
       |  round(sum(CASE WHEN i.corpus_id IS NOT NULL THEN 1 ELSE 0 END)
       |    / 5.0, 4) AS recall_ivf
       |FROM exact e
       |LEFT JOIN lshp l ON l.query_id = e.query_id
       |  AND l.corpus_id = e.corpus_id
       |LEFT JOIN ivfp i ON i.query_id = e.query_id
       |  AND i.corpus_id = e.corpus_id
       |GROUP BY e.query_id ORDER BY e.query_id""".stripMargin
  }

  /** DuckDB replica of [[annNdcg]]: exact@10 grades, IVF@10 ranking
    * (same codebook/tie-break replica as [[ivfOracle]] at k=10,
    * nprobe=3), and the SAME discount literals the Spark plan embeds —
    * both engines round dcg/idcg to 6 dp before the final division. */
  private def ndcgOracle: String = {
    val disc = ndcgDiscounts.map(_.toString).mkString("[", ", ", "]")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |q0 AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
       |exact AS (SELECT query_id, corpus_id,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY cos DESC, corpus_id) AS INT) AS rank
       |  FROM (SELECT query_id, e.vec_id AS corpus_id,
       |      round(list_cosine_similarity(qv, e.v), 6) AS cos
       |    FROM q0 JOIN e ON e.vec_id <> query_id) s
       |  QUALIFY rank <= 10),
       |cent AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS idx,
       |    v AS cv
       |  FROM e ORDER BY vec_id LIMIT 8),
       |scores AS (SELECT e.vec_id, c.idx,
       |    list_inner_product(e.v, c.cv) AS d
       |  FROM e CROSS JOIN cent c),
       |cells AS (SELECT vec_id, idx AS cell FROM scores
       |  QUALIFY row_number() OVER (PARTITION BY vec_id
       |    ORDER BY d DESC, idx DESC) = 1),
       |probes AS (SELECT vec_id, idx AS cell FROM scores
       |  WHERE vec_id < 10
       |  QUALIFY row_number() OVER (PARTITION BY vec_id
       |    ORDER BY d DESC, idx DESC) <= 3),
       |cc AS (SELECT e.vec_id AS corpus_id, e.v AS cv, cells.cell
       |  FROM e JOIN cells ON cells.vec_id = e.vec_id),
       |qq AS (SELECT p.vec_id AS query_id, e.v AS qv, p.cell
       |  FROM probes p JOIN e ON e.vec_id = p.vec_id),
       |ivf AS (SELECT query_id, corpus_id,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY cos DESC, corpus_id) AS INT) AS rank
       |  FROM (SELECT query_id, corpus_id,
       |      round(list_cosine_similarity(qv, cv), 6) AS cos
       |    FROM qq JOIN cc USING (cell) WHERE query_id <> corpus_id) s
       |  QUALIFY rank <= 10),
       |ex2 AS (SELECT query_id, corpus_id,
       |    CAST(11 - rank AS DOUBLE) AS rel,
       |    list_extract($disc, rank) AS disc
       |  FROM exact),
       |iv2 AS (SELECT query_id, corpus_id,
       |    list_extract($disc, rank) AS ivf_disc
       |  FROM ivf),
       |dcg AS (SELECT i.query_id,
       |    round(sum(coalesce(x.rel, 0) * i.ivf_disc), 6) AS dcg,
       |    CAST(sum(CASE WHEN x.rel IS NOT NULL THEN 1 ELSE 0 END)
       |      AS BIGINT) AS hits
       |  FROM iv2 i LEFT JOIN ex2 x ON x.query_id = i.query_id
       |    AND x.corpus_id = i.corpus_id
       |  GROUP BY i.query_id),
       |idcg AS (SELECT query_id, round(sum(rel * disc), 6) AS idcg
       |  FROM ex2 GROUP BY query_id)
       |SELECT d.query_id, d.hits, d.dcg, i.idcg,
       |  round(d.dcg / i.idcg, 6) AS ndcg
       |FROM dcg d JOIN idcg i USING (query_id)
       |ORDER BY d.query_id""".stripMargin
  }

  /** DuckDB replica of the hyperplane bucketing + in-bucket exact rank.
    * Plane values come from the same seeded generator the query uses;
    * Double.toString round-trips exactly through DuckDB's literal
    * parser. */
  private def lshOracle: String = {
    val planes = Ann.hyperplanes(numPlanes = 6, dim = 64)
    val bucketExpr = planes.zipWithIndex.map { case (p, i) =>
      val arr = p.map(_.toString).mkString("[", ", ", "]")
      s"    (CASE WHEN list_inner_product(v, $arr) >= 0\n" +
        s"      THEN ${1L << i} ELSE 0 END)"
    }.mkString(" +\n")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |b AS (SELECT vec_id, v,
       |$bucketExpr AS bucket
       |  FROM e),
       |q AS (SELECT vec_id AS query_id, v AS qv, bucket FROM b
       |  WHERE vec_id < 10),
       |c AS (SELECT vec_id AS corpus_id, v AS cv, bucket FROM b),
       |scored AS (SELECT query_id, corpus_id,
       |    round(list_cosine_similarity(qv, cv), 6) AS cos
       |  FROM q JOIN c USING (bucket) WHERE query_id <> corpus_id)
       |SELECT query_id, corpus_id, cos,
       |  CAST(row_number() OVER (PARTITION BY query_id
       |    ORDER BY cos DESC, corpus_id) AS INT) AS rank
       |FROM scored QUALIFY rank <= 5
       |ORDER BY query_id, rank""".stripMargin
  }

  /** DuckDB replica of the IVF path: codebook = 8 smallest-id vectors,
    * cell = argmax dot (ties → higher cell index, matching Spark's
    * struct array_max), queries probe their top-3 cells. */
  /** Exposed to [[StreamingQueries]]: `stream_ann_ingest`'s streamed
    * index must reproduce the one-shot IVF route bit-for-bit, so it is
    * judged against the SAME replica. */
  private[queries] def ivfOracle: String = ivfOracleWith("TRUE")

  /** The IVF replica with a corpus-side predicate (over `e.vec_id`) —
    * what `ann_ivf_delete` judges: probing after delete+vacuum must
    * equal the replica over the corpus MINUS the deleted slice. Cell
    * assignment is per-row, so filtering the corpus CTE (codebook
    * unchanged — deletes never retrain) is the exact semantic. */
  private[queries] def ivfOracleWith(corpusPred: String): String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |cent AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS idx,
      |    v AS cv
      |  FROM e ORDER BY vec_id LIMIT 8),
      |scores AS (SELECT e.vec_id, c.idx,
      |    list_inner_product(e.v, c.cv) AS d
      |  FROM e CROSS JOIN cent c),
      |cells AS (SELECT vec_id, idx AS cell FROM scores
      |  QUALIFY row_number() OVER (PARTITION BY vec_id
      |    ORDER BY d DESC, idx DESC) = 1),
      |probes AS (SELECT vec_id, idx AS cell FROM scores
      |  WHERE vec_id < 10
      |  QUALIFY row_number() OVER (PARTITION BY vec_id
      |    ORDER BY d DESC, idx DESC) <= 3),
      |c AS (SELECT e.vec_id AS corpus_id, e.v AS cv, cells.cell
      |  FROM e JOIN cells ON cells.vec_id = e.vec_id
      |  WHERE $corpusPred),
      |q AS (SELECT p.vec_id AS query_id, e.v AS qv, p.cell
      |  FROM probes p JOIN e ON e.vec_id = p.vec_id),
      |scored AS (SELECT query_id, corpus_id,
      |    round(list_cosine_similarity(qv, cv), 6) AS cos
      |  FROM q JOIN c USING (cell) WHERE query_id <> corpus_id)
      |SELECT query_id, corpus_id, cos,
      |  CAST(row_number() OVER (PARTITION BY query_id
      |    ORDER BY cos DESC, corpus_id) AS INT) AS rank
      |FROM scored QUALIFY rank <= 5
      |ORDER BY query_id, rank""".stripMargin

  /** Shared DuckDB replica of the PQ coding pipeline (m=4 subspaces of
    * 16 dims, ksub=8, seed codebooks = first-8 corpus subvectors):
    * `recon(vec_id, r)` is each vector's codeword reconstruction.
    * Code assignment replays Spark's argmax of `dot − ‖c‖²/2` with
    * ties to the HIGHER codeword id (struct array_max is
    * lexicographic) — both engines sum the products/squares in index
    * order, so the doubles compare identically. */
  private val pqRecon: String =
    """e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |subs AS (SELECT vec_id, s,
      |    list_slice(v, s*16 + 1, s*16 + 16) AS sub
      |  FROM e, (SELECT unnest(generate_series(0, 3)) AS s) g),
      |cwids AS (SELECT vec_id FROM e ORDER BY vec_id LIMIT 8),
      |cw AS (SELECT subs.s,
      |    row_number() OVER (PARTITION BY subs.s ORDER BY subs.vec_id) - 1
      |      AS j,
      |    subs.sub AS c
      |  FROM subs JOIN cwids USING (vec_id)),
      |codescore AS (SELECT subs.vec_id, subs.s, cw.j, cw.c,
      |    list_inner_product(subs.sub, cw.c)
      |      - list_inner_product(cw.c, cw.c) / 2 AS d
      |  FROM subs JOIN cw ON subs.s = cw.s),
      |codes AS (SELECT vec_id, s, j, c FROM codescore
      |  QUALIFY row_number() OVER (PARTITION BY vec_id, s
      |    ORDER BY d DESC, j DESC) = 1),
      |recon AS (SELECT vec_id, flatten(list(c ORDER BY s)) AS r
      |  FROM codes GROUP BY vec_id)""".stripMargin

  /** DuckDB replica of [[annPq]]: ADC scoring of every corpus code
    * against the exact broadcast queries, rank ≤ 5. */
  private def pqOracle: String =
    s"""WITH $pqRecon,
       |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
       |scored AS (SELECT query_id, r.vec_id AS corpus_id,
       |    round(list_cosine_similarity(qv, r.r), 6) AS cos
       |  FROM q CROSS JOIN recon r WHERE query_id <> r.vec_id)
       |SELECT query_id, corpus_id, cos,
       |  CAST(row_number() OVER (PARTITION BY query_id
       |    ORDER BY cos DESC, corpus_id) AS INT) AS rank
       |FROM scored QUALIFY rank <= 5
       |ORDER BY query_id, rank""".stripMargin

  /** DuckDB replica of [[annRerank]]: ADC top-20 candidates (with their
    * candidate rank kept) → exact-cosine re-rank to top-5. */
  private def rerankOracle: String =
    s"""WITH $pqRecon,
       |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
       |scored AS (SELECT query_id, r.vec_id AS corpus_id,
       |    round(list_cosine_similarity(qv, r.r), 6) AS cos
       |  FROM q CROSS JOIN recon r WHERE query_id <> r.vec_id),
       |cand AS (SELECT query_id, corpus_id,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY cos DESC, corpus_id) AS INT) AS adc_rank
       |  FROM scored QUALIFY adc_rank <= 20),
       |rr AS (SELECT c.query_id, c.corpus_id, c.adc_rank,
       |    round(list_cosine_similarity(qe.v, ce.v), 6) AS cos
       |  FROM cand c
       |  JOIN e qe ON qe.vec_id = c.query_id
       |  JOIN e ce ON ce.vec_id = c.corpus_id)
       |SELECT query_id, corpus_id, cos,
       |  CAST(row_number() OVER (PARTITION BY query_id
       |    ORDER BY cos DESC, corpus_id) AS INT) AS rank, adc_rank
       |FROM rr QUALIFY rank <= 5
       |ORDER BY query_id, rank""".stripMargin

  /** DuckDB replica of [[annIvfPq]]: IVF cell assignment/probing (as in
    * [[ivfOracle]]) over ADC code scores for the top-20 candidates,
    * then exact-cosine re-rank to the final top-5. */
  private def ivfPqOracle: String =
    s"""WITH $pqRecon,
       |cent AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS idx,
       |    v AS cv
       |  FROM e ORDER BY vec_id LIMIT 8),
       |cellscore AS (SELECT e.vec_id, c.idx,
       |    list_inner_product(e.v, c.cv) AS d
       |  FROM e CROSS JOIN cent c),
       |cells AS (SELECT vec_id, idx AS cell FROM cellscore
       |  QUALIFY row_number() OVER (PARTITION BY vec_id
       |    ORDER BY d DESC, idx DESC) = 1),
       |probes AS (SELECT vec_id, idx AS cell FROM cellscore
       |  WHERE vec_id < 10
       |  QUALIFY row_number() OVER (PARTITION BY vec_id
       |    ORDER BY d DESC, idx DESC) <= 3),
       |adc AS (SELECT p.vec_id AS query_id, ce.vec_id AS corpus_id,
       |    round(list_cosine_similarity(qe.v, r.r), 6) AS cos
       |  FROM probes p
       |  JOIN cells ce ON ce.cell = p.cell
       |  JOIN e qe ON qe.vec_id = p.vec_id
       |  JOIN recon r ON r.vec_id = ce.vec_id
       |  WHERE p.vec_id <> ce.vec_id),
       |cand AS (SELECT query_id, corpus_id FROM adc
       |  QUALIFY row_number() OVER (PARTITION BY query_id
       |    ORDER BY cos DESC, corpus_id) <= 20),
       |rr AS (SELECT c.query_id, c.corpus_id,
       |    round(list_cosine_similarity(qe.v, ce.v), 6) AS cos
       |  FROM cand c
       |  JOIN e qe ON qe.vec_id = c.query_id
       |  JOIN e ce ON ce.vec_id = c.corpus_id)
       |SELECT query_id, corpus_id, cos,
       |  CAST(row_number() OVER (PARTITION BY query_id
       |    ORDER BY cos DESC, corpus_id) AS INT) AS rank
       |FROM rr QUALIFY rank <= 5
       |ORDER BY query_id, rank""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "ann_kmeans_step" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |seed AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS idx,
        |    list_transform(v, x -> x / sqrt(list_inner_product(v, v)))
        |      AS cv
        |  FROM e ORDER BY vec_id LIMIT 8),
        |assigned AS (SELECT e.vec_id, e.v, s.idx,
        |    list_inner_product(e.v, s.cv) AS d
        |  FROM e CROSS JOIN seed s
        |  QUALIFY row_number() OVER (PARTITION BY e.vec_id
        |    ORDER BY d DESC, idx DESC) = 1),
        |dims AS (SELECT idx AS cell, i, avg(v[i]) AS m
        |  FROM assigned, (SELECT unnest(generate_series(1, 64)) AS i) g
        |  GROUP BY idx, i),
        |norms AS (SELECT cell, sqrt(sum(m * m)) AS nrm
        |  FROM dims GROUP BY cell),
        |counts AS (SELECT idx AS cell, CAST(count(*) AS BIGINT)
        |    AS n_assigned
        |  FROM assigned GROUP BY idx)
        |SELECT CAST(d.cell AS INT) AS cell, c.n_assigned,
        |  CAST(d.i AS INT) AS dim, round(d.m / n.nrm, 6) AS c_val
        |FROM dims d JOIN norms n USING (cell) JOIN counts c USING (cell)
        |ORDER BY cell, dim""".stripMargin,
    "ann_hybrid_rrf" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+'))
        |    AS t FROM documents),
        |dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
        |st AS (SELECT CAST(count(*) AS DOUBLE) AS nd,
        |  avg(CAST(dl AS DOUBLE)) AS avgdl FROM dl),
        |post AS (SELECT doc_id, t, count(*) AS tf FROM tok GROUP BY 1, 2),
        |dfq AS (SELECT t, count(DISTINCT doc_id) AS dfc
        |  FROM post GROUP BY t),
        |qt AS (SELECT DISTINCT doc_id AS query_id, t FROM tok
        |  WHERE doc_id < 3),
        |lex AS (
        |  SELECT q.query_id, p.doc_id,
        |    round(sum(
        |      ln(1.0 + ((SELECT nd FROM st) - dfc + 0.5) / (dfc + 0.5))
        |      * tf * (1.2 + 1.0)
        |      / (tf + 1.2 * (0.25 + 0.75 * dl / (SELECT avgdl FROM st)))),
        |      6) AS lex
        |  FROM qt q JOIN post p ON p.t = q.t AND p.doc_id <> q.query_id
        |  JOIN dfq ON dfq.t = p.t JOIN dl ON dl.doc_id = p.doc_id
        |  GROUP BY 1, 2),
        |lexr AS (
        |  SELECT query_id, doc_id, CAST(row_number() OVER (
        |    PARTITION BY query_id ORDER BY lex DESC, doc_id) AS INT)
        |    AS lex_rank
        |  FROM lex
        |  QUALIFY lex_rank <= 20),
        |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |vec AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS doc_id,
        |    round(list_cosine_similarity(q.v, c.v), 6) AS cos
        |  FROM e q JOIN e c ON q.vec_id < 3 AND q.vec_id <> c.vec_id),
        |vecr AS (
        |  SELECT query_id, doc_id, CAST(row_number() OVER (
        |    PARTITION BY query_id ORDER BY cos DESC, doc_id) AS INT)
        |    AS vec_rank
        |  FROM vec
        |  QUALIFY vec_rank <= 20),
        |u AS (
        |  SELECT coalesce(l.query_id, v.query_id) AS query_id,
        |    coalesce(l.doc_id, v.doc_id) AS doc_id,
        |    l.lex_rank, v.vec_rank
        |  FROM lexr l FULL OUTER JOIN vecr v
        |    ON l.query_id = v.query_id AND l.doc_id = v.doc_id),
        |f AS (
        |  SELECT query_id, doc_id, lex_rank, vec_rank,
        |    round(coalesce(1.0 / (60 + lex_rank), 0)
        |      + coalesce(1.0 / (60 + vec_rank), 0), 6) AS rrf
        |  FROM u)
        |SELECT query_id,
        |  CAST(row_number() OVER (PARTITION BY query_id
        |    ORDER BY rrf DESC, doc_id) AS INT) AS rank,
        |  doc_id, rrf, lex_rank, vec_rank
        |FROM f
        |QUALIFY rank <= 5
        |ORDER BY query_id, rank""".stripMargin,
    "ann_pq" -> pqOracle,
    "ann_ivfpq" -> ivfPqOracle,
    "ann_rerank" -> rerankOracle,
    "ann_quantize" ->
      """WITH q AS (
        |  SELECT vec_id, embedding,
        |    list_aggregate(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))),
        |      'max') / 127.0 AS s
        |  FROM embeddings),
        |d AS (
        |  SELECT vec_id, embedding, s,
        |    CASE WHEN s = 0 THEN list_transform(embedding, x -> 0.0)
        |      ELSE list_transform(embedding, x ->
        |        least(greatest(round(CAST(x AS DOUBLE) / s), -127.0), 127.0) * s)
        |      END AS deq
        |  FROM q)
        |SELECT vec_id,
        |  list_cosine_similarity(list_transform(embedding,
        |    x -> CAST(x AS DOUBLE)), deq) >= 0.999 AS ok,
        |  TRUE AS in_range
        |FROM d ORDER BY vec_id""".stripMargin,
    "ann_lsh" -> lshOracle,
    "ann_recall" -> recallOracle,
    "ann_ndcg" -> ndcgOracle,
    "ann_ivf" -> ivfOracle,
    "ann_ivf_index" -> ivfOracle,
    // filtered search ≡ the replica over the label-restricted corpus
    // (per-row assignment: a filter never moves vectors between cells)
    "ann_filtered" -> ivfOracleWith(
      "e.vec_id IN (SELECT vec_id FROM embeddings WHERE label < 3)"),
    // a streamed index is exactly as filterable as a rebuilt one:
    // same replica, corpus restricted by the same predicate
    "ann_filtered_live" -> ivfOracleWith(
      "e.vec_id IN (SELECT vec_id FROM embeddings WHERE label < 3)"),
    // forced full escalation (matches < k everywhere) ≡ exact filtered
    // brute-force top-k over the predicate-restricted corpus
    "ann_filtered_escalate" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
        |  FROM embeddings WHERE vec_id < 10),
        |c AS (SELECT vec_id AS corpus_id, embedding::DOUBLE[] AS cv
        |  FROM embeddings WHERE vec_id < 4),
        |scored AS (
        |  SELECT query_id, corpus_id,
        |    round(list_cosine_similarity(qv, cv), 6) AS cos
        |  FROM q JOIN c ON query_id <> corpus_id)
        |SELECT query_id, corpus_id, cos,
        |  CAST(row_number() OVER (PARTITION BY query_id
        |    ORDER BY cos DESC, corpus_id) AS INT) AS rank
        |FROM scored QUALIFY rank <= 5
        |ORDER BY query_id, rank""".stripMargin,
    // the 5 greedy MMR steps unrolled: each step joins the remaining
    // candidates against the cumulative selection, takes max pairwise
    // sim (rounded 6dp, like rel), and argmaxes 0.7·rel − (1−0.7)·ms
    // with ties by corpus_id — the same doubles Spark computes
    "ann_mmr" -> {
      def step(i: Int): String = {
        val (r, sel, s) = (s"r${i - 1}", s"sel${i - 1}", s"s$i")
        s"""m$i AS (SELECT r.query_id, r.corpus_id,
           |    max(round(list_cosine_similarity(r.cv, s.cv), 6)) AS ms
           |  FROM $r r JOIN $sel s ON r.query_id = s.query_id
           |  GROUP BY 1, 2),
           |$s AS (SELECT r.query_id, r.corpus_id, r.cos, r.cv,
           |    $i AS rank
           |  FROM $r r JOIN m$i m ON r.query_id = m.query_id
           |    AND r.corpus_id = m.corpus_id
           |  QUALIFY row_number() OVER (PARTITION BY r.query_id
           |    ORDER BY 0.7 * r.cos - (1.0 - 0.7) * m.ms DESC,
           |      r.corpus_id) = 1),
           |sel$i AS (SELECT * FROM $sel UNION ALL SELECT * FROM $s),
           |r$i AS (SELECT c.* FROM r${i - 1} c LEFT JOIN $s
           |  ON c.query_id = $s.query_id AND c.corpus_id = $s.corpus_id
           |  WHERE $s.corpus_id IS NULL)""".stripMargin
      }
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
         |  FROM embeddings),
         |q AS (SELECT vec_id AS query_id, v AS qv FROM e
         |  WHERE vec_id < 8),
         |scored AS (SELECT query_id, e.vec_id AS corpus_id,
         |    round(list_cosine_similarity(qv, e.v), 6) AS cos,
         |    e.v AS cv
         |  FROM q JOIN e ON e.vec_id <> query_id),
         |cand AS (SELECT * FROM scored
         |  QUALIFY row_number() OVER (PARTITION BY query_id
         |    ORDER BY cos DESC, corpus_id) <= 20),
         |s1 AS (SELECT query_id, corpus_id, cos, cv, 1 AS rank
         |  FROM cand QUALIFY row_number() OVER (PARTITION BY query_id
         |    ORDER BY cos DESC, corpus_id) = 1),
         |sel1 AS (SELECT * FROM s1),
         |r1 AS (SELECT c.* FROM cand c LEFT JOIN s1
         |  ON c.query_id = s1.query_id AND c.corpus_id = s1.corpus_id
         |  WHERE s1.corpus_id IS NULL),
         |${step(2)},
         |${step(3)},
         |${step(4)},
         |${step(5)}
         |SELECT query_id, corpus_id, cos, rank FROM sel5
         |ORDER BY query_id, rank""".stripMargin
    },
    "ann_ivf_incremental" -> ivfOracle,
    "ann_ivf_delete" -> ivfOracleWith("e.vec_id % 7 <> 0"),
    "ann_knn_classify" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
        |  FROM embeddings WHERE vec_id < 30),
        |c AS (SELECT vec_id AS corpus_id, label,
        |    embedding::DOUBLE[] AS cv
        |  FROM embeddings WHERE vec_id >= 30),
        |scored AS (
        |  SELECT query_id, corpus_id, label,
        |    round(list_cosine_similarity(qv, cv), 6) AS cos
        |  FROM q JOIN c ON query_id <> corpus_id),
        |nn AS (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY cos DESC, corpus_id) AS rnk
        |  FROM scored QUALIFY rnk <= 5),
        |votes AS (
        |  SELECT query_id, label, count(*) AS votes,
        |    round(sum(cos), 6) AS weight
        |  FROM nn GROUP BY 1, 2)
        |SELECT query_id, label AS predicted, votes, weight FROM votes
        |QUALIFY row_number() OVER (PARTITION BY query_id
        |  ORDER BY votes DESC, weight DESC, label) = 1
        |ORDER BY query_id""".stripMargin,
    "ann_topk" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
        |  FROM embeddings WHERE vec_id < 10),
        |c AS (SELECT vec_id AS corpus_id, embedding::DOUBLE[] AS cv
        |  FROM embeddings),
        |scored AS (
        |  SELECT query_id, corpus_id,
        |    round(list_cosine_similarity(qv, cv), 6) AS cos
        |  FROM q JOIN c ON query_id <> corpus_id)
        |SELECT query_id, corpus_id, cos,
        |  CAST(row_number() OVER (PARTITION BY query_id
        |    ORDER BY cos DESC, corpus_id) AS INT) AS rank
        |FROM scored
        |QUALIFY rank <= 5
        |ORDER BY query_id, rank""".stripMargin,
    "ann_jl" ->
      """WITH m AS (
        |  SELECT j, list(s ORDER BY i) AS mrow
        |  FROM (
        |    SELECT j, i,
        |      CASE WHEN substr(md5('jl|' || i || '|' || j), 1, 1)
        |          BETWEEN '0' AND '7'
        |        THEN 1.0 ELSE -1.0 END AS s
        |    FROM range(16) t1(j), range(64) t2(i))
        |  GROUP BY j),
        |p AS (
        |  SELECT e.vec_id,
        |    list(round(list_inner_product(e.embedding::DOUBLE[], m.mrow),
        |      6) ORDER BY m.j) AS pv
        |  FROM embeddings e CROSS JOIN m GROUP BY e.vec_id),
        |q AS (SELECT vec_id AS query_id, pv AS qv FROM p
        |  WHERE vec_id < 10),
        |scored AS (
        |  SELECT query_id, p.vec_id AS corpus_id,
        |    round(list_cosine_similarity(qv, pv), 6) AS cos_jl
        |  FROM q JOIN p ON query_id <> p.vec_id)
        |SELECT query_id, corpus_id, cos_jl,
        |  CAST(row_number() OVER (PARTITION BY query_id
        |    ORDER BY cos_jl DESC, corpus_id) AS INT) AS rank
        |FROM scored
        |QUALIFY rank <= 5
        |ORDER BY query_id, rank""".stripMargin,
    "ann_range" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
        |  FROM embeddings WHERE vec_id < 10),
        |c AS (SELECT vec_id AS corpus_id, embedding::DOUBLE[] AS cv
        |  FROM embeddings)
        |SELECT query_id, corpus_id,
        |  round(list_cosine_similarity(qv, cv), 6) AS cos
        |FROM q JOIN c ON query_id <> corpus_id
        |WHERE round(list_cosine_similarity(qv, cv), 6) >= 0.25
        |ORDER BY query_id, corpus_id""".stripMargin,
    "ann_hard_negatives" ->
      """WITH q AS (SELECT vec_id AS query_id, label AS q_label,
        |    embedding::DOUBLE[] AS qv
        |  FROM embeddings WHERE vec_id < 10),
        |c AS (SELECT vec_id AS corpus_id, label AS c_label,
        |    embedding::DOUBLE[] AS cv
        |  FROM embeddings),
        |scored AS (
        |  SELECT query_id, q_label, corpus_id, c_label,
        |    round(list_cosine_similarity(qv, cv), 6) AS cos
        |  FROM q JOIN c ON query_id <> corpus_id AND q_label <> c_label)
        |SELECT query_id, q_label, corpus_id, c_label, cos,
        |  CAST(row_number() OVER (PARTITION BY query_id
        |    ORDER BY cos DESC, corpus_id) AS INT) AS rank
        |FROM scored
        |QUALIFY rank <= 3
        |ORDER BY query_id, rank""".stripMargin,
    "ann_mips" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
        |  FROM embeddings WHERE vec_id < 10),
        |c AS (SELECT vec_id AS corpus_id, embedding::DOUBLE[] AS cv
        |  FROM embeddings),
        |scored AS (
        |  SELECT query_id, corpus_id,
        |    round(list_inner_product(qv, cv), 6) AS ip
        |  FROM q JOIN c ON query_id <> corpus_id)
        |SELECT query_id, corpus_id, ip,
        |  CAST(row_number() OVER (PARTITION BY query_id
        |    ORDER BY ip DESC, corpus_id) AS INT) AS rank
        |FROM scored
        |QUALIFY rank <= 5
        |ORDER BY query_id, rank""".stripMargin,
    "ann_centroids" ->
      """WITH d AS (
        |  SELECT label, i, avg(embedding[i]) AS m
        |  FROM embeddings, (SELECT unnest(generate_series(1, 64)) AS i) g
        |  GROUP BY label, i),
        |cent AS (SELECT label, list(m ORDER BY i) AS centroid
        |  FROM d GROUP BY label)
        |SELECT a.label AS label_a, b.label AS label_b,
        |  round(list_cosine_similarity(a.centroid, b.centroid), 4) AS cos
        |FROM cent a JOIN cent b ON a.label < b.label
        |ORDER BY label_a, label_b""".stripMargin
  )
}
