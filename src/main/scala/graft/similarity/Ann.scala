package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.dedup.Dedup.cosine

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Two paths:
  *  - [[bruteTopK]]: exact cosine top-k via broadcast(query) × corpus —
  *    the baseline; correct at any corpus size as long as the *query*
  *    set is small (queries broadcast; corpus never collected).
  *  - [[lshTopK]]: random-hyperplane LSH — bucket by sign bits, search
  *    only within the probe buckets. The 100 TB path: corpus bucket
  *    assignment is a narrow projection, the join key is the bucket id.
  *
  * Hyperplanes are generated from a fixed seed so results are
  * deterministic and reproducible across runs/engines.
  */
object Ann {

  /** Normalize an embedding column (float[] → unit-norm double[]). */
  def unitNorm(v: Column): Column = {
    val d = v.cast("array<double>")
    val n = sqrt(aggregate(transform(d, x => x * x), lit(0.0),
      (acc, x) => acc + x))
    transform(d, x => x / n)
  }

  /** Symmetric per-vector int8 quantization: `qscale = max|v| / 127`,
    * `qvec[i] = round(v[i] / qscale)` ∈ [-127, 127]. The storage lever
    * for ANN at 100 TB — a float32 embedding column shrinks 4× (the
    * scan, the shuffle, and the broadcast all shrink with it), at a
    * cosine fidelity loss of ~1e-4 at typical dims. Pure columnar
    * projection (codegen'd higher-order functions), no shuffle, no UDF.
    * All-zero vectors quantize to zeros with qscale 0 rather than NaN.
    * Adds `qscale` (double) and `qvec` (array<tinyint>). */
  def quantizeInt8(df: DataFrame, vecCol: String): DataFrame = {
    val d = col(vecCol).cast("array<double>")
    val scale = array_max(transform(d, x => abs(x))) / 127.0
    df.withColumn("qscale", scale)
      .withColumn("qvec",
        when(col("qscale") === 0.0, transform(d, _ => lit(0).cast("tinyint")))
          .otherwise(transform(d, x =>
            least(greatest(round(x / col("qscale")), lit(-127.0)),
              lit(127.0)).cast("tinyint"))))
  }

  /** Reconstruct doubles from an int8-quantized vector. */
  def dequantizeInt8(qvec: Column, qscale: Column): Column =
    transform(qvec, x => x.cast("double") * qscale)

  /** Exact top-k by cosine: broadcast the (small) query set against the
    * corpus, rank per query. Ties broken by corpus id; cosine rounded so
    * the ranking is stable across summation orders. */
  def bruteTopK(queries: DataFrame, corpus: DataFrame, vecCol: String,
      idCol: String, k: Int): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"),
      col(vecCol).cast("array<double>").as("qv")))
    val c = corpus.select(col(idCol).as("corpus_id"),
      col(vecCol).cast("array<double>").as("cv"))
    val scored = c.join(q, col("query_id") =!= col("corpus_id"))
      .withColumn("cos", round(cosine(col("qv"), col("cv")), 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(desc("cos"), col("corpus_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("corpus_id"), col("cos"), col("rank"))
  }

  /** MMR diversity re-ranking (Carbonell & Goldstein 1998, maximal
    * marginal relevance): greedily pick k results that balance
    * relevance against redundancy — `argmax λ·rel(c) − (1−λ)·max_{s∈S}
    * sim(c, s)` — the standard fix for a top-k whose members are all
    * near-duplicates of each other (retrieval-augmented sampling,
    * dedup-aware search, exemplar selection all want it).
    *
    * Deterministic, oracle-replayable form: candidates are the exact
    * [[bruteTopK]] top-candK per query (6-dp-rounded cosine, ties by
    * corpus id), pairwise sims are rounded the same way, and each
    * greedy step breaks MMR-score ties by corpus id — so the k
    * selection steps unroll as chained CTEs.
    *
    * Scale shape: the greedy selection is a PER-QUERY sequential
    * computation over a BOUNDED candidate set (≤ candK rows), so it
    * runs inside ONE `flatMapGroups` — one shuffle on query_id, one
    * job, no iterative barriers (an earlier k-step DataFrame loop
    * measured 9× slower purely on job-scheduling overhead, with no
    * scale benefit: candidates per group never exceed candK anyway).
    * The local arithmetic replicates the codegen'd
    * [[org.apache.spark.sql.graftx.CosineSimilarity]] loop (index-order
    * accumulation, dot/(√·√)) and Spark's HALF_UP `round(·, 6)` so the
    * judged results equal both the relational form and the DuckDB
    * replica bit-for-bit. Corpus size only enters through the initial
    * top-candK ([[bruteTopK]]'s broadcast scan — swap in [[ivfTopK]]
    * for candidates at scale; the greedy tail is identical).
    *
    * Ids must be integral (the deterministic tie-break orders by
    * numeric id — the same contract the oracle replays). */
  def mmrTopK(queries: DataFrame, corpus: DataFrame, vecCol: String,
      idCol: String, k: Int = 5, lambdaRel: Double = 0.7,
      candK: Int = 20): DataFrame = {
    require(k >= 1 && candK >= k, "need candK >= k >= 1")
    val spark = queries.sparkSession
    import spark.implicits._
    val cv = corpus.select(col(idCol).cast("long").as("corpus_id"),
      col(vecCol).cast("array<double>").as("cv"))
    val cands = bruteTopK(queries, corpus, vecCol, idCol, candK)
      .select(col("query_id").cast("long").as("query_id"),
        col("corpus_id").cast("long").as("corpus_id"), col("cos"))
      .join(cv, Seq("corpus_id"))
      .select(col("query_id"), col("corpus_id"), col("cos"), col("cv"))
      .as[(Long, Long, Double, Array[Double])]
    def cos6(a: Array[Double], b: Array[Double]): Double = {
      val n = math.min(a.length, b.length)
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < n) {
        dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      val c = dot / (math.sqrt(na) * math.sqrt(nb))
      java.math.BigDecimal.valueOf(c)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    }
    cands.groupByKey(_._1)
      .flatMapGroups { (q, it) =>
        val cs = it.toArray
        val out = Array.newBuilder[(Long, Long, Double, Int)]
        val picked = new Array[Boolean](cs.length)
        val selVecs = scala.collection.mutable.ArrayBuffer
          .empty[Array[Double]]
        var rank = 1
        val kEff = math.min(k, cs.length)
        while (rank <= kEff) {
          var best = -1
          var bestScore = Double.NegativeInfinity
          var j = 0
          while (j < cs.length) {
            if (!picked(j)) {
              val c = cs(j)
              val score =
                if (selVecs.isEmpty) c._3
                else {
                  var ms = Double.NegativeInfinity
                  selVecs.foreach { v =>
                    val s = cos6(c._4, v); if (s > ms) ms = s
                  }
                  lambdaRel * c._3 - (1.0 - lambdaRel) * ms
                }
              if (score > bestScore ||
                (score == bestScore && best >= 0 && c._2 < cs(best)._2))
                { bestScore = score; best = j }
            }
            j += 1
          }
          // every remaining candidate scored NaN (zero-norm vectors
          // make cos6 0/0, and NaN fails both > and ==): stop the
          // greedy loop short — skip, don't throw, the convention the
          // probe and codec paths follow
          if (best < 0) rank = kEff + 1
          else {
            picked(best) = true
            selVecs += cs(best)._4
            out += ((q, cs(best)._2, cs(best)._3, rank))
            rank += 1
          }
        }
        out.result().iterator
      }
      .toDF("query_id", "corpus_id", "cos", "rank")
  }

  /** Reciprocal-rank fusion (Cormack, Clarke & Buettcher 2009) — the
    * standard score-free combiner for HYBRID retrieval (lexical BM25 +
    * vector similarity): each retriever contributes 1/(rrfK + rank)
    * for the documents in its top list, so incompatible score scales
    * never need calibrating. Input: `(name, df)` per retriever with
    * columns `(query_id, doc_id, rank)` (its top-K only — absent docs
    * simply contribute nothing, the standard convention). Output: the
    * fused top `kOut` per query with the fused `rrf` score (rounded so
    * the cross-engine ranking can't flip in the last ulp), the fused
    * `rank`, and each retriever's rank as `<name>_rank` (null when the
    * doc wasn't in that retriever's list).
    *
    * Scale shape: a union + one hash aggregate on (query, doc) + one
    * per-query window over ≤ Σ K rows per query — no full-outer join
    * chain, so fusing N retrievers stays one shuffle. */
  def rrfFuse(lists: Seq[(String, DataFrame)], kOut: Int,
      rrfK: Int = 60): DataFrame = {
    require(lists.nonEmpty, "need at least one ranking to fuse")
    require(kOut >= 1 && rrfK >= 1, s"bad kOut=$kOut / rrfK=$rrfK")
    val tagged = lists.map { case (nm, df) =>
      df.select(col("query_id"), col("doc_id"),
        col("rank").cast("int").as("rank"), lit(nm).as("src"))
    }.reduce(_ unionAll _)
    val rankCols = lists.map { case (nm, _) =>
      max(when(col("src") === nm, col("rank"))).as(s"${nm}_rank")
    }
    val fused = tagged.groupBy(col("query_id"), col("doc_id"))
      .agg(round(sum(lit(1.0) / (lit(rrfK) + col("rank"))), 6).as("rrf"),
        rankCols: _*)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(desc("rrf"), col("doc_id"))
    fused.withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= kOut)
  }

  /** Johnson–Lindenstrauss signed projection matrix: `dOut × dIn` signs
    * in {±1}, each derived from the md5 of `salt|i|j` (the portable
    * deterministic-randomness bridge every sampling operator here
    * uses) — first hex nibble ≤ '7' ⇒ +1. Achlioptas 2003 shows ±1
    * entries satisfy the JL lemma like Gaussians; the md5 derivation
    * makes the matrix REPLAYABLE IN SQL, which a seeded-RNG Gaussian
    * matrix is not (the oracle rebuilds it from the same md5). */
  def jlSigns(dIn: Int, dOut: Int, salt: String = "jl"): Array[Array[Double]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(dOut, dIn) { (j, i) =>
      val hex = md.digest(s"$salt|$i|$j".getBytes("UTF-8"))
      // first hex char = high nibble of byte 0; ≤ 7 ⇔ high bit clear
      if (((hex(0) >> 4) & 0xf) <= 7) 1.0 else -1.0
    }
  }

  /** Project an embedding column to `dOut` dims through [[jlSigns]]:
    * each output coordinate is ONE native codegen'd [[DotProduct]]
    * against a literal sign row (the matrix rides the plan — nothing
    * is broadcast or joined), rounded to 6 dp so both engines agree
    * bit-for-bit. Cosine is scale-invariant, so the 1/√dOut JL
    * normalization is omitted.
    *
    * The 100 TB role: a 64→16 projection shrinks every downstream
    * scan, shuffle, and broadcast of the vector column 4×, and
    * distance computations 4×, while JL keeps relative distances
    * within (1±ε) — the standard cheap FIRST stage in front of an
    * exact re-rank ([[rerank]]), complementary to [[quantizeInt8]]
    * (which shrinks precision, not dimensionality). */
  def jlProject(df: DataFrame, vecCol: String, outCol: String,
      dIn: Int, dOut: Int, salt: String = "jl"): DataFrame = {
    require(dOut >= 1 && dOut <= dIn,
      s"need 1 <= dOut <= dIn=$dIn, got $dOut")
    val m = jlSigns(dIn, dOut, salt)
    val v = col(vecCol).cast("array<double>")
    import org.apache.spark.sql.graftx.DotProduct
    df.withColumn(outCol,
      array((0 until dOut).map(j => round(DotProduct(v, lit(m(j))), 6)): _*))
  }

  /** Top-k by cosine in the JL-projected space: [[jlProject]] both
    * sides, then the [[bruteTopK]] broadcast-rank kernel over the
    * SHORT vectors. Same plan shape as the exact path, 4× less data
    * through it; candidates feed [[rerank]] for exact order. */
  def jlTopK(queries: DataFrame, corpus: DataFrame, vecCol: String,
      idCol: String, k: Int, dIn: Int, dOut: Int,
      salt: String = "jl"): DataFrame = {
    val q = jlProject(queries, vecCol, "__pv", dIn, dOut, salt)
      .select(col(idCol), col("__pv").as(vecCol))
    val c = jlProject(corpus, vecCol, "__pv", dIn, dOut, salt)
      .select(col(idCol), col("__pv").as(vecCol))
    bruteTopK(q, c, vecCol, idCol, k)
  }

  /** Deterministic random hyperplanes: `numPlanes × dim` doubles from a
    * seeded RNG (generated driver-side once; broadcast as literals). */
  def hyperplanes(numPlanes: Int, dim: Int, seed: Long = 42L): Array[Array[Double]] = {
    val rng = new scala.util.Random(seed)
    Array.fill(numPlanes, dim)(rng.nextGaussian())
  }

  /** Sign-bit bucket id for a vector under the given hyperplanes.
    * Each plane's projection is a native codegen [[DotProduct]] — the
    * interpreted `aggregate(zip_with(...))` form would run numPlanes
    * interpreted loops per row. */
  def bucketId(v: Column, planes: Array[Array[Double]]): Column = {
    val d = v.cast("array<double>")
    val bits = planes.zipWithIndex.map { case (p, i) =>
      val plane = array(p.map(lit): _*)
      val dot = org.apache.spark.sql.graftx.DotProduct(d, plane)
      when(dot >= 0, shiftleft(lit(1L), i)).otherwise(0L)
    }
    bits.reduce(_.bitwiseOR(_))
  }

  /** LSH top-k: candidates limited to the query's bucket; exact cosine
    * rank within. Recall < 1 by construction; [[recall]] measures it
    * against the brute-force baseline. */
  def lshTopK(queries: DataFrame, corpus: DataFrame, vecCol: String,
      idCol: String, k: Int, numPlanes: Int = 8, dim: Int = 64): DataFrame = {
    val planes = hyperplanes(numPlanes, dim)
    val q = broadcast(queries.select(col(idCol).as("query_id"),
      col(vecCol).cast("array<double>").as("qv"),
      bucketId(col(vecCol), planes).as("bucket")))
    val c = corpus.select(col(idCol).as("corpus_id"),
      col(vecCol).cast("array<double>").as("cv"),
      bucketId(col(vecCol), planes).as("bucket"))
    val scored = c.join(q, Seq("bucket"))
      .filter(col("query_id") =!= col("corpus_id"))
      .withColumn("cos", round(cosine(col("qv"), col("cv")), 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(desc("cos"), col("corpus_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("corpus_id"), col("cos"), col("rank"))
  }

  /** Deterministic seed codebook: the embeddings of the `nlist`
    * smallest corpus ids. */
  def seedCodebook(corpus: DataFrame, vecCol: String, idCol: String,
      nlist: Int): Array[Array[Double]] =
    corpus.orderBy(col(idCol)).limit(nlist)
      .select(col(vecCol).cast("array<double>"))
      .collect().map(_.getSeq[Double](0).toArray)

  /** Spherical k-means codebook training (Lloyd iterations), fully
    * DataFrame-native: assignment is nlist native dot products per row
    * (one narrow projection), the new centroid is the per-cell
    * dimension-wise mean (posexplode → one partial-aggregated shuffle),
    * re-normalized to the unit sphere so max-dot == min-angle for the
    * cosine metric. Only nlist×dim doubles ever reach the driver per
    * iteration — the codebook is broadcast state by design.
    * Deterministic: seeded init, tie-break by cell index.
    *
    * `spherical = false` switches to plain L2 k-means (no centroid
    * normalization; assignment by max `dot − ‖c‖²/2`, the linear form
    * of min-L2) — what PQ sub-quantizers need, where subvectors are
    * NOT unit-norm. */
  def trainCodebook(corpus: DataFrame, vecCol: String, idCol: String,
      nlist: Int, iters: Int = 3,
      spherical: Boolean = true): Array[Array[Double]] = {
    def normalize(v: Array[Double]): Array[Double] = {
      if (!spherical) return v
      val n = math.sqrt(v.map(x => x * x).sum)
      if (n == 0) v else v.map(_ / n)
    }
    var centroids = seedCodebook(corpus, vecCol, idCol, nlist).map(normalize)
    val vecs = corpus.select(col(vecCol).cast("array<double>").as("v"))
    for (_ <- 0 until iters) {
      val cellCol = {
        val scored = centroids.zipWithIndex.map { case (c, i) =>
          val bias = if (spherical) 0.0 else c.map(x => x * x).sum / 2
          struct((org.apache.spark.sql.graftx.DotProduct(col("v"),
            array(c.map(lit): _*)) - lit(bias)).as("d"), lit(i).as("i"))
        }
        array_max(array(scored: _*)).getField("i")
      }
      val means = vecs.withColumn("cell", cellCol)
        .select(col("cell"), posexplode(col("v")).as(Seq("dim", "x")))
        .groupBy(col("cell"), col("dim")).agg(avg(col("x")).as("m"))
        .groupBy(col("cell"))
        .agg(array_sort(collect_list(struct(col("dim"), col("m"))))
          .as("pairs"))
        .select(col("cell"), expr("transform(pairs, p -> p.m)").as("centroid"))
        .collect().map(r =>
          r.getInt(0) -> r.getSeq[Double](1).toArray).toMap
      // cells that lost every vector keep their previous centroid
      centroids = centroids.indices.map(i =>
        normalize(means.getOrElse(i, centroids(i)))).toArray
    }
    centroids
  }

  /** One spherical Lloyd step, exposed as a QUERY for oracle judgment
    * (the [[trainCodebook]] loop is this step iterated): assign every
    * vector to its max-dot seed cell, average per (cell, dimension),
    * re-normalize to the unit sphere. Output one row per (cell, dim):
    * `(cell, n_assigned, dim, c_val)` with `c_val` rounded so the
    * distributed partial-sum order vs the oracle's sequential sum
    * cannot flip the last ulp. Cells that attract no vectors emit no
    * rows (the loop keeps their previous centroid). Plan shape: one
    * narrow projection (nlist native dots per row) + two keyed
    * aggregates — the same jobs the training loop pays per iteration
    * at any scale. */
  def kmeansStepDf(corpus: DataFrame, vecCol: String, idCol: String,
      nlist: Int): DataFrame = {
    val centroids = seedCodebook(corpus, vecCol, idCol, nlist).map { v =>
      val n = math.sqrt(v.map(x => x * x).sum)
      if (n == 0) v else v.map(_ / n)
    }
    val vecs = corpus.select(col(vecCol).cast("array<double>").as("v"))
    val scored = centroids.zipWithIndex.map { case (c, i) =>
      struct(org.apache.spark.sql.graftx.DotProduct(col("v"),
        array(c.map(lit): _*)).as("d"), lit(i).as("i"))
    }
    val assigned = vecs.withColumn("cell",
      array_max(array(scored: _*)).getField("i"))
    val counts = assigned.groupBy(col("cell"))
      .agg(count(lit(1)).as("n_assigned"))
    val dims = assigned
      .select(col("cell"), posexplode(col("v")).as(Seq("dim0", "x")))
      .groupBy(col("cell"), col("dim0")).agg(avg(col("x")).as("m"))
    val norms = dims.groupBy(col("cell"))
      .agg(sqrt(sum(col("m") * col("m"))).as("nrm"))
    dims.join(norms, "cell").join(counts, "cell")
      .select(col("cell"), col("n_assigned"),
        (col("dim0") + 1).as("dim"),
        round(col("m") / col("nrm"), 6).as("c_val"))
  }

  /** IVF (inverted-file) top-k: corpus vectors are assigned to their
    * nearest of `nlist` centroid cells; a query searches only its
    * `nprobe` closest cells. The 100 TB path when hyperplane LSH recall
    * is too data-dependent: cell assignment is one narrow projection
    * (nlist native dot products per row), the probe is an equi-join on
    * the cell id.
    *
    * `codebook` defaults to [[seedCodebook]] (deterministic first-n
    * vectors); pass [[trainCodebook]]'s output for k-means cells.
    * Collecting the codebook is driver-side by design: nlist×dim
    * doubles, always broadcast state.
    */
  // per-row cell scores as (dot, cellId) structs; array_max /
  // array_sort order lexicographically → argmax with index tiebreak.
  // Shared by the inline IVF paths and the persisted-index pair.
  private def cellStructs(centroids: Array[Array[Double]],
      v: Column): Column = array(
    centroids.zipWithIndex.map { case (c, i) =>
      val plane = array(c.map(lit): _*)
      struct(org.apache.spark.sql.graftx.DotProduct(v, plane).as("d"),
        lit(i).as("i"))
    }: _*)
  private def bestCell(centroids: Array[Array[Double]], v: Column): Column =
    array_max(cellStructs(centroids, v)).getField("i")
  private def probeCells(centroids: Array[Array[Double]], nprobe: Int,
      v: Column): Column = transform(
    slice(reverse(array_sort(cellStructs(centroids, v))), 1, nprobe),
    s => s.getField("i"))

  /** Shared tail of every IVF probe path: equi-join candidates to the
    * broadcast query batch on `cell`, exact-rank the survivors. `post`
    * carries (cell, corpus_id, cv); `q` carries (cell, query_id, qv). */
  private def rankCellCandidates(post: DataFrame, q: DataFrame,
      k: Int): DataFrame = {
    val scored = post.join(q, Seq("cell"))
      .filter(col("query_id") =!= col("corpus_id"))
      .withColumn("cos", round(cosine(col("qv"), col("cv")), 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(desc("cos"), col("corpus_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("corpus_id"), col("cos"), col("rank"))
  }

  /** Read a stored index's codebook back: nlist×dim doubles — driver/
    * broadcast state by design. */
  private def readCodebook(spark: org.apache.spark.sql.SparkSession,
      path: String): Array[Array[Double]] =
    spark.read.parquet(s"$path/codebook")
      .orderBy(col("cell")).collect()
      .map(r => r.getSeq[Double](1).toArray)

  def ivfTopK(queries: DataFrame, corpus: DataFrame, vecCol: String,
      idCol: String, k: Int, nlist: Int = 8, nprobe: Int = 2,
      codebook: Option[Array[Array[Double]]] = None): DataFrame = {
    val centroids: Array[Array[Double]] =
      codebook.getOrElse(seedCodebook(corpus, vecCol, idCol, nlist))

    val c = corpus.select(col(idCol).as("corpus_id"),
      col(vecCol).cast("array<double>").as("cv"),
      bestCell(centroids, col(vecCol).cast("array<double>")).as("cell"))
    val q = broadcast(queries.select(col(idCol).as("query_id"),
        col(vecCol).cast("array<double>").as("qv"),
        explode(probeCells(centroids, nprobe,
          col(vecCol).cast("array<double>"))).as("cell")))
    rankCellCandidates(c, q, k)
  }

  /** Persist the IVF INDEX of a corpus — the ANN twin of
    * `dedup.Dedup.buildMinhashIndex`, and the serving shape at 100 TB:
    * the corpus is assigned to its codebook cells ONCE and written as
    * CELL-PARTITIONED postings (`path/postings/cell=<i>/…`) plus the
    * codebook rows (`path/codebook`). A query batch then probes only
    * its cells' partitions — the scan prunes to
    * nprobe/nlist of the corpus on disk, no re-sketching, no full
    * scan — and a new corpus increment appends its own postings into
    * the same layout without touching history. */
  def buildIvfIndex(corpus: DataFrame, vecCol: String, idCol: String,
      path: String, nlist: Int = 8,
      codebook: Option[Array[Array[Double]]] = None,
      attrCols: Seq[String] = Nil): Unit = {
    val centroids = codebook.getOrElse(
      seedCodebook(corpus, vecCol, idCol, nlist))
    // attrCols ride the postings as a filterable payload — the
    // vector-DB "filtered search" shape: a metadata predicate at probe
    // time gates candidates INSIDE the pruned cell scan, instead of
    // rebuilding an index per predicate or post-filtering a top-k that
    // may then come back short
    val spark = corpus.sparkSession
    import spark.implicits._
    // postings and codebook land in disjoint directories with no
    // ordering contract between them — overlap the writes (guide §2.6);
    // callers that read the codebook back (append/probe) run after this
    // returns, so the read-after-build order is unchanged
    graft.etl.Utils.inParallel(
      () => corpus.select((col(idCol).as("corpus_id") +:
          col(vecCol).cast("array<double>").as("cv") +:
          attrCols.map(col)): _*)
        .withColumn("cell", bestCell(centroids, col("cv")))
        .write.mode("overwrite").partitionBy("cell")
        .parquet(s"$path/postings"),
      () => centroids.zipWithIndex.map { case (c, i) => (i, c.toSeq) }
        .toSeq.toDF("cell", "centroid")
        .write.mode("overwrite").parquet(s"$path/codebook"))
    ()
  }

  /** Top-k against a STORED IVF index ([[buildIvfIndex]]) and its
    * streamed increment log ([[appendIvfBatch]]) — the one probe over
    * the stored layout: read the codebook (nlist×dim doubles —
    * driver/broadcast state by design), compute each query's probe
    * cells, statically prune the base postings scan AND the increment
    * log scan to the batch's probe-cell partitions (for the log, `cell`
    * prunes at the second partition level under `batch`), mask
    * tombstones ([[deleteFromIvfIndex]]) and exact-rank inside the
    * cells. Identical results to [[ivfTopK]] over base ∪ increments
    * with the same codebook — what changes is WHERE the cell assignment
    * work happened (once, at build or append) and how much of the
    * corpus the query scan touches (nprobe/nlist of the files however
    * many batches have landed, enforced by partition pruning). An index
    * with no `increments/` directory scans the postings alone. */
  def ivfIndexTopK(spark: org.apache.spark.sql.SparkSession,
      queries: DataFrame, vecCol: String, idCol: String, path: String,
      k: Int, nprobe: Int = 2, where: Option[Column] = None,
      codebook: Option[Array[Array[Double]]] = None): DataFrame = {
    // callers probing the same stored index repeatedly (the escalation
    // loop) pass the codebook once instead of re-reading it per probe
    val centroids = codebook.getOrElse(readCodebook(spark, path))
    val q = broadcast(queries.select(col(idCol).as("query_id"),
        col(vecCol).cast("array<double>").as("qv"),
        explode(probeCells(centroids, nprobe,
          col(vecCol).cast("array<double>"))).as("cell")))
    // the batch's probe-cell set: ≤ nlist driver-side ints, turned into
    // a static partition-pruning predicate on both scans. At
    // nprobe ≥ nlist every query probes every cell by construction, so
    // the collect job AND the vacuous isin are skipped (full scan).
    val cells =
      if (nprobe >= centroids.length) centroids.indices.toSeq
      else q.select(col("cell")).distinct().collect()
        .map(_.getInt(0)).toSeq
    val baseScan = spark.read.parquet(s"$path/postings")
      .filter(col("cell").isin(cells: _*))
    // FILTERED search (`where` over attrCols stored at build): the
    // predicate is validated against the BASE postings' attribute
    // vocabulary and lands on the SCANS — inside the cell pruning,
    // before ranking — so Parquet pushdown sees it and a selective
    // filter cheapens the probe instead of starving a post-filtered
    // top-k. Semantics = brute force over the filtered corpus within
    // the probed cells (assignment is per-row; a filter never moves a
    // vector between cells). Under very selective predicates callers
    // widen nprobe (or escalate, [[ivfIndexTopKEscalating]]). Both
    // sides project to the base attr schema: an increment appended
    // without a payload folds in with null attrs and simply never
    // matches a filtered probe, the same honest semantic as vacuum's
    // fold.
    where.foreach(validateWhere(spark, baseScan.schema, _))
    val attrs = baseScan.columns.toSeq
      .filterNot(Set("cell", "corpus_id", "cv"))
    def proj(df: DataFrame): DataFrame = df.select(
      (Seq("corpus_id", "cv", "cell").map(col) ++ attrs.map(a =>
        if (df.columns.contains(a)) col(a)
        else lit(null).cast(baseScan.schema(a).dataType).as(a))): _*)
    val base = proj(baseScan)
    val post = if (new java.io.File(s"$path/increments").isDirectory)
      base.unionByName(proj(spark.read.parquet(s"$path/increments")
        .filter(col("cell").isin(cells: _*))))
    else base
    val filtered = where.map(post.filter).getOrElse(post)
      .select(col("cell"), col("corpus_id"), col("cv"))
    // tombstoned ids are masked at probe time; a takedown-sized set
    // anti-joins cheaply (AQE broadcasts it), a purge-sized one is what
    // [[vacuumIvfIndex]] is for
    val visible = graft.index.IndexLifecycle.maskTombstoned(
      filtered, "corpus_id", s"$path/tombstones")
    rankCellCandidates(visible, q, k)
  }

  /** The filtered-search predicate may reference ONLY the attribute
    * payload stored at build time (buildIvfIndex attrCols) — validated
    * by analyzing it against the attrs-only schema, so a predicate
    * naming a column that exists for another reason (cell/corpus_id/
    * cv, or a stray 'batch') fails HERE with the build-time vocabulary
    * named, not later as an opaque AnalysisException (or worse, a
    * silent filter over meaningless data). A DETACHED empty frame is
    * used because analyzing against scan.drop(...) would let
    * ResolveMissingReferences resolve dropped columns back through the
    * lineage and accept a cell/corpus_id/cv predicate. */
  private def validateWhere(spark: org.apache.spark.sql.SparkSession,
      scanSchema: org.apache.spark.sql.types.StructType,
      p: Column): Unit = {
    val attrFields = scanSchema.fields.filterNot(f =>
      Set("cell", "corpus_id", "cv", "batch").contains(f.name))
    val attrsOnly = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      org.apache.spark.sql.types.StructType(attrFields))
    try { attrsOnly.filter(p); () }
    catch {
      case e: org.apache.spark.sql.AnalysisException =>
        throw new IllegalArgumentException(
          "filtered-search predicate must reference only attribute " +
            s"columns stored via buildIvfIndex attrCols " +
            s"(available: ${attrsOnly.columns.mkString(", ")})", e)
    }
  }

  /** Filtered top-k with a K-GUARANTEE — the fix for the classic
    * filtered-ANN failure mode: a highly selective predicate inside the
    * `nprobe` probed cells can return FEWER than k results even when k
    * matches exist in unprobed cells. This variant escalates PER QUERY:
    * any query whose survivors fall short of k re-probes with a doubled
    * nprobe (2·p, 4·p, …, capped at nlist — at nlist the probe covers
    * every cell, i.e. an exact filtered scan of the index), while
    * queries already satisfied keep the rows of the round that
    * satisfied them (a neighbor's starvation must not perturb their
    * results). Terminates after ≤ ⌈log₂(nlist/nprobe)⌉ + 1 rounds; a
    * query with fewer than k matches in the ENTIRE index ends at the
    * full scan with all its matches — the strongest guarantee possible.
    *
    * Scale shape: each round is one [[ivfIndexTopK]] over the still-
    * starved queries only, the starved set is derived as a broadcast
    * LEFT-ANTI join (never a driver-collected literal list — a wide
    * query batch must not inflate later rounds' plans), and each
    * round's survivors pin eagerly so the final union re-executes no
    * probe. Escalation cost is paid ONLY by starved queries — the
    * selective-predicate tail — never by the batch. */
  def ivfIndexTopKEscalating(spark: org.apache.spark.sql.SparkSession,
      queries: DataFrame, vecCol: String, idCol: String, path: String,
      k: Int, nprobe: Int = 2, where: Option[Column] = None): DataFrame = {
    // ONE codebook read serves the round count AND every round's probe
    // (it was re-read per round before — §1.2: don't recompute what a
    // loop already holds)
    val centroids = readCodebook(spark, path)
    val nlist = centroids.length
    var probe = math.min(math.max(nprobe, 1), nlist)
    var remaining = queries
    val rounds = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var exhausted = false
    // the round-1 result pin is MEASURED; later frames reuse its bytes
    // as the tier hint, so each subsequent round pays zero dedicated
    // pin actions: the result pin is deferred (materialized by the
    // starved-set count job that reads it through `satisfied`) and the
    // starved-set pin's row count is its emptiness test — 5 driver
    // actions per round before, 1 now.
    var resBytes = -1L
    while (!exhausted) {
      val raw = ivfIndexTopK(spark, remaining, vecCol, idCol, path, k,
        probe, where, Some(centroids))
      val last = probe >= nlist
      // the terminal round's result is consumed exactly once (the
      // final union) — pinning it would be a pure extra pass
      val res =
        if (last) raw
        else if (resBytes < 0) {
          val p = graft.plans.Pin(raw); resBytes = p.bytes; p.df
        } else graft.plans.Pin.deferred(raw, resBytes)
      if (last) { rounds += res; exhausted = true }
      else {
        val satisfied = res.groupBy(col("query_id"))
          .agg(count(lit(1)).as("__n")).filter(col("__n") >= k)
          .select(col("query_id"))
        // starved = queries minus satisfied, as a LEFT-ANTI join on
        // the caller's id column NAME (Seq-form join: unambiguous even
        // when idCol is literally "query_id", and never a driver-side
        // literal list — a caller with 10⁶ queries must not build a
        // 10⁶-literal isin predicate into every later round's plan).
        // Pinned (count-fused) BEFORE the emptiness test: one job
        // serves the termination check, the next round's input, and —
        // through the broadcast build of `satisfied` — the lazy
        // materialization of this round's result pin; the pin
        // truncates the growing anti-join lineage so round r's probe
        // re-executes nothing of rounds 1..r-1.
        val satAsIdCol = broadcast(
          satisfied.withColumnRenamed("query_id", idCol))
        val graft.plans.Pinned(next, _, nNext) = graft.plans.Pin(
          remaining.join(satAsIdCol, Seq(idCol), "left_anti"), resBytes)
        if (nNext == 0) { rounds += res; exhausted = true }
        else {
          rounds += res.join(broadcast(satisfied), Seq("query_id"),
            "left_semi")
          remaining = next
          probe = math.min(probe * 2, nlist)
        }
      }
    }
    rounds.reduce(_ unionByName _)
  }

  /** Append a corpus increment to a stored IVF index as ONE batch
    * partition of its increment log (`path/increments/batch=<id>/
    * cell=<i>/…`), via DYNAMIC partition overwrite on (batch, cell) —
    * the one way to add vectors to an index after [[buildIvfIndex]].
    * Exactly-once for an at-least-once caller (Structured Streaming's
    * foreachBatch): a replayed batch overwrites exactly its own
    * partition directories instead of appending duplicate postings
    * that would shift every downstream rank. History — the base
    * postings AND every other batch's increments — is never touched;
    * `cell` stays the trailing partition column so [[ivfIndexTopK]]'s
    * pruning reaches it. */
  def appendIvfBatch(spark: org.apache.spark.sql.SparkSession,
      increment: DataFrame, vecCol: String, idCol: String,
      path: String, batchId: Long,
      attrCols: Seq[String] = Nil): Unit = {
    val centroids = readCodebook(spark, path)
    // attrCols ride each increment exactly as they ride the base
    // postings (buildIvfIndex): a streamed index stays FILTERABLE —
    // [[ivfIndexTopK]]'s `where` gates increment candidates too, and
    // batches ingested WITHOUT metadata simply never match a filtered
    // probe (the same honest semantic vacuum applies when folding)
    increment.select((col(idCol).as("corpus_id") +:
        col(vecCol).cast("array<double>").as("cv") +:
        attrCols.map(col)): _*)
      .withColumn("batch", lit(batchId))
      .withColumn("cell", bestCell(centroids, col("cv")))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch", "cell")
      .parquet(s"$path/increments")
  }

  /** Tombstone-DELETE ids from a stored IVF index — the TAKEDOWN
    * primitive that completes the index lifecycle (build → append →
    * delete → [[vacuumIvfIndex]]): the ids land as an append-only
    * tombstone file set that the probe ([[ivfIndexTopK]]) anti-joins,
    * so a deletion is O(ids) and visible immediately without touching
    * a single posting file — no corpus-sized rewrite on the takedown
    * path. Idempotent under
    * at-least-once callers: duplicate tombstone rows collapse in the
    * probe's distinct. Masking is not purging — the deleted vectors'
    * BYTES survive until [[vacuumIvfIndex]] rewrites them away.
    *
    * The id column's type is PRESERVED (kernel contract): a cast would
    * null out non-numeric ids and silently no-op the takedown. */
  def deleteFromIvfIndex(ids: DataFrame, idCol: String,
      path: String): Unit =
    graft.index.IndexLifecycle.appendTombstones(ids, idCol, "corpus_id",
      s"$path/tombstones")

  /** Physically PURGE a stored IVF index: rewrite base postings ∪
    * increment log MINUS tombstones as one fresh cell-partitioned
    * directory, then drop the increment log and the tombstones. After
    * vacuum the deleted vectors' bytes are GONE from disk — what a
    * right-to-be-forgotten takedown actually requires; tombstone
    * masking alone merely hides them — and the accumulated increment
    * partitions fold into the base (the same file-count argument as
    * `dedup.Dedup.compactMinhashIndex`). Cost ∝ index size, zero
    * corpus rescan; the codebook is untouched (deletes never retrain).
    *
    * The rewrite publishes through the lake's one swap protocol
    * (`graft.sinks.Sinks.swap`): a probe never sees a partial
    * `postings` directory, and a crash in any swap window is healed at
    * the start of the next vacuum. The pass is SNAPSHOT-SCOPED and
    * IDEMPOTENT across every crash window: increments and tombstones are read
    * from the file set listed at entry and only that set is deleted at
    * the end — tombstones/increments appended concurrently survive for
    * the next pass (never a lost takedown) — and the rewrite
    * `dropDuplicates` on corpus_id (the index's one-vector-per-id
    * contract), so a crash after the swap but before the cleanup
    * cannot double the already-folded increment postings when the next
    * vacuum unions them again. */
  def vacuumIvfIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): Unit = {
    import graft.index.IndexLifecycle._
    val live = s"$path/postings"
    // a healed swap already published the crashed pass's folded
    // increments; the leftover increment/tombstone files below re-fold
    // idempotently (dropDuplicates + anti-join of already-purged ids)
    graft.sinks.Sinks.healSwap(live)
    val incrSnap = snapshotFiles(s"$path/increments")
    val tombSnap = snapshotFiles(s"$path/tombstones")
    // preserve the LIVE postings schema wholesale: an index built with
    // an attribute payload (buildIvfIndex attrCols — filtered search)
    // must not lose its filter columns to a maintenance rewrite.
    // Increments are projected DOWN to the live schema before the
    // union — their 'batch' partition column must not leak into the
    // postings schema (it would drift on every vacuum of a streamed
    // index), and attrCols they never carried fold in as nulls — a
    // filtered probe then simply never matches them, which is the
    // honest semantic for rows whose metadata was never ingested.
    val liveDf = spark.read.parquet(live)
    val liveCols = liveDf.columns.toSeq
    def inLiveSchema(df: DataFrame, pri: Int): DataFrame = {
      val cols = liveCols.map { c =>
        if (df.columns.contains(c)) col(c)
        else lit(null).cast(liveDf.schema(c).dataType).as(c)
      }
      val batch = if (df.columns.contains("batch"))
        col("batch").cast("long") else lit(-1L)
      df.select(cols :+ lit(pri).as("__pri") :+ batch.as("__batch"): _*)
    }
    var post = inLiveSchema(liveDf, 0)
    readSnapshot(spark, s"$path/increments", incrSnap).foreach(i =>
      post = post.unionByName(inLiveSchema(i, 1)))
    // one-vector-per-id contract, resolved DETERMINISTICALLY: prefer
    // the row with the most non-null attribute metadata (an increment
    // folded with null attrs must never shadow the attribute-bearing
    // live posting — a bare dropDuplicates could keep either row and
    // permanently erase a vector's filter metadata), then — on
    // completeness TIES — the NEWEST batch before live (__batch desc
    // before __pri: an increment that re-ingests a live id with
    // equally-complete attributes, e.g. an updated embedding, must
    // win, because ivfIndexTopK already serves that increment row
    // pre-vacuum (beside the superseded base row, which the fold
    // drops); final hash tie-break makes the survivor a pure
    // function of the data.
    val attrs = liveCols.filterNot(Set("cell", "corpus_id", "cv"))
    val nullAttrs = attrs.map(c => when(col(c).isNull, 1).otherwise(0))
      .reduceOption[Column](_ + _).getOrElse(lit(0))
    val w = Window.partitionBy(col("corpus_id")).orderBy(
      nullAttrs.asc, col("__batch").desc, col("__pri").asc,
      col("cell"), hash(col("cv")))
    post = post.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn", "__pri", "__batch")
    readSnapshot(spark, s"$path/tombstones", tombSnap).foreach(t =>
      post = post.join(t.distinct(), Seq("corpus_id"), "left_anti"))
    graft.sinks.Sinks.swap(live) { dir =>
      post.write.mode("overwrite").partitionBy("cell").parquet(dir)
      true
    }
    deleteSnapshot(s"$path/increments", incrSnap)
    deleteSnapshot(s"$path/tombstones", tombSnap)
  }

  /** Product quantization — the memory side of ANN at 100 TB. Each
    * vector splits into `m` subvectors; each subspace gets its own
    * `ksub`-entry L2 k-means codebook; a vector's code is its nearest
    * codeword id per subspace: `m` bytes per vector (ksub ≤ 256)
    * instead of `4·dim` — 32× smaller than float32 at dim 64 / m 8.
    * Int8 quantization ([[quantizeInt8]]) is the 4× lever; PQ is the
    * 32× one, at correspondingly lower fidelity — the standard
    * candidate-generation representation in front of an exact re-rank.
    *
    * Codebooks are trained per-subspace with the same DataFrame-native
    * Lloyd loop as IVF ([[trainCodebook]] with `spherical = false`);
    * only m·ksub·(dim/m) = ksub·dim doubles reach the driver. */
  def pqCodebooks(corpus: DataFrame, vecCol: String, idCol: String,
      m: Int, ksub: Int, iters: Int = 3): Array[Array[Array[Double]]] = {
    val dim = corpus.select(size(col(vecCol))).first().getInt(0)
    require(dim % m == 0, s"dim $dim not divisible by m=$m subspaces")
    val dsub = dim / m
    (0 until m).map { s =>
      val sub = corpus.select(col(idCol),
        slice(col(vecCol).cast("array<double>"), s * dsub + 1, dsub)
          .as("__sub"))
      trainCodebook(sub, "__sub", idCol, ksub, iters, spherical = false)
    }.toArray
  }

  /** Encode vectors to PQ codes (`array<tinyint>`, one code per
    * subspace) — a pure projection: m·ksub small native dot products
    * per row, no shuffle. */
  def pqEncode(df: DataFrame, vecCol: String,
      books: Array[Array[Array[Double]]]): DataFrame = {
    val m = books.length
    val dsub = books(0)(0).length
    val v = col(vecCol).cast("array<double>")
    val codes = (0 until m).map { s =>
      val sub = slice(v, s * dsub + 1, dsub)
      val scored = books(s).zipWithIndex.map { case (c, j) =>
        val bias = c.map(x => x * x).sum / 2
        struct((org.apache.spark.sql.graftx.DotProduct(sub,
          array(c.map(lit): _*)) - lit(bias)).as("d"), lit(j).as("j"))
      }
      array_max(array(scored: _*)).getField("j").cast("tinyint")
    }
    df.withColumn("pq_codes", array(codes: _*))
  }

  /** Reconstruct the codeword vector a PQ code stands for. */
  def pqReconstruct(codes: Column,
      books: Array[Array[Array[Double]]]): Column = {
    val lits = books.map(book =>
      array(book.map(c => array(c.map(lit): _*)): _*))
    flatten(array(books.indices.map(s =>
      element_at(lits(s), codes.getItem(s).cast("int") + 1)): _*))
  }

  /** Asymmetric-distance top-k over the compressed corpus: the exact
    * query vector scores against each corpus row's RECONSTRUCTION —
    * the corpus side only ever materializes its m-byte codes (what a
    * 100 TB index stores); codewords expand inside the scan projection
    * and never hit storage or shuffle. Candidate generation only: feed
    * the survivors to an exact re-rank over the original vectors. */
  def pqTopK(queries: DataFrame, corpus: DataFrame, vecCol: String,
      idCol: String, k: Int,
      books: Array[Array[Array[Double]]]): DataFrame = {
    // reconstruction is a per-CORPUS-ROW expression — project it below
    // the join (once per row, stream side) instead of inside the join
    // output (once per corpus×query pair; measured ~6× slower). The
    // expansion lives only in the stage pipeline — storage and any
    // shuffle still carry m-byte codes.
    // corpus widened (no-op at production scan parallelism): PQ encode
    // + per-row reconstruction are the heavy stages, and the local
    // one-row-group lake file scans as ONE partition (Scale.widen).
    // The cheap-cosine search ops (bruteTopK/ivfTopK) deliberately do
    // NOT widen: measured, the vector exchange costs more than their
    // light per-row math saves.
    val coded = pqEncode(graft.plans.Scale.widen(corpus), vecCol, books)
      .select(col(idCol).as("corpus_id"),
        pqReconstruct(col("pq_codes"), books).as("__recon"))
    val q = broadcast(queries.select(col(idCol).as("query_id"),
      col(vecCol).cast("array<double>").as("qv")))
    val scored = coded.crossJoin(q)
      .filter(col("query_id") =!= col("corpus_id"))
      .withColumn("cos", round(cosine(col("qv"), col("__recon")), 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(desc("cos"), col("corpus_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("corpus_id"), col("cos"), col("rank"))
  }

  /** IVF + PQ — the full billion-scale index shape: the query probes
    * its `nprobe` nearest cells (IVF bounds WHICH rows are scored) and
    * scores their PQ codes asymmetrically (PQ bounds WHAT each row
    * costs: m bytes + a reconstruction inside the projection). At
    * 100 TB the corpus-side state is cell id + m-byte code per vector —
    * the only full-width vector in the plan is the broadcast query. */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame, vecCol: String,
      idCol: String, k: Int, books: Array[Array[Array[Double]]],
      cells: Array[Array[Double]], nprobe: Int = 2): DataFrame = {
    def cellStructs(v: Column): Column = array(
      cells.zipWithIndex.map { case (c, i) =>
        struct(org.apache.spark.sql.graftx.DotProduct(v,
          array(c.map(lit): _*)).as("d"), lit(i).as("i"))
      }: _*)
    // as in pqTopK: reconstruct once per corpus row, below the join
    val c = pqEncode(graft.plans.Scale.widen(corpus), vecCol, books)
      .select(col(idCol).as("corpus_id"),
        pqReconstruct(col("pq_codes"), books).as("__recon"),
        array_max(cellStructs(col(vecCol).cast("array<double>")))
          .getField("i").as("cell"))
    val q = broadcast(queries.select(col(idCol).as("query_id"),
      col(vecCol).cast("array<double>").as("qv"),
      explode(transform(
        slice(reverse(array_sort(cellStructs(
          col(vecCol).cast("array<double>")))), 1, nprobe),
        s => s.getField("i"))).as("cell")))
    val scored = c.join(q, Seq("cell"))
      .filter(col("query_id") =!= col("corpus_id"))
      .withColumn("cos", round(cosine(col("qv"), col("__recon")), 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(desc("cos"), col("corpus_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("corpus_id"), col("cos"), col("rank"))
  }

  /** Exact re-rank over ANN candidates: join the original vectors back
    * for true cosine and re-rank — candidates × dim work instead of
    * corpus × dim, which is the whole point of candidate generation.
    * `candidates` needs (query_id, corpus_id); queries stay broadcast. */
  def rerank(candidates: DataFrame, queries: DataFrame, corpus: DataFrame,
      vecCol: String, idCol: String, k: Int): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"),
      col(vecCol).cast("array<double>").as("qv")))
    val c = corpus.select(col(idCol).as("corpus_id"),
      col(vecCol).cast("array<double>").as("cv"))
    val exact = candidates.select("query_id", "corpus_id")
      .join(q, "query_id").join(c, "corpus_id")
      .withColumn("cos", round(cosine(col("qv"), col("cv")), 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(desc("cos"), col("corpus_id"))
    exact.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("corpus_id"), col("cos"), col("rank"))
  }

  /** Range (radius) search: every corpus vector with cosine ≥ `minCos`
    * of each query — the "all sufficiently-similar neighbors" form of
    * similarity search (top-k's dual; what near-dup mining and
    * contamination sweeps actually want when the neighbor count is
    * unknown a priori). Exact: broadcast the small query set, one
    * codegen'd cosine per (query, corpus) pair, filter — embarrassingly
    * parallel over corpus partitions, no shuffle at all until the
    * caller aggregates. For query sets too big to broadcast, bucket
    * both sides first (the `dedup/Dedup.embeddingPairs` LSH move) and
    * accept bucket recall; this exact form is the oracle-able path and
    * the per-bucket kernel of that scale form. */
  def rangeSearch(queries: DataFrame, corpus: DataFrame, vecCol: String,
      idCol: String, minCos: Double): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"),
      col(vecCol).cast("array<double>").as("qv")))
    val c = corpus.select(col(idCol).as("corpus_id"),
      col(vecCol).cast("array<double>").as("cv"))
    c.join(q, col("query_id") =!= col("corpus_id"))
      .withColumn("cos", round(cosine(col("qv"), col("cv")), 6))
      .filter(col("cos") >= minCos)
      .select(col("query_id"), col("corpus_id"), col("cos"))
  }

  /** Fraction of brute-force top-k pairs the ANN path recovered. */
  def recall(ann: DataFrame, brute: DataFrame): Double = {
    val hits = brute.select("query_id", "corpus_id")
      .intersect(ann.select("query_id", "corpus_id")).count()
    val total = brute.count()
    if (total == 0) 1.0 else hits.toDouble / total
  }
}
