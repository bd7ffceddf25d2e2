package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.text.TextAnalysis._

/** Text-analysis operators over the `documents` table (training-data
  * pipeline extensions): token counting, quality scoring, language ID,
  * fingerprinting — each verified in ANSI SQL. */
object TextQueries extends QuerySection {
  import Catalog.Q

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  /** Token/char counting incl. the BPE-ish subword proxy. Tokenizes
    * once into a materialized array column — interpreted higher-order
    * functions get no CSE, so a shared `tokens(text)` subexpression
    * would otherwise re-split the text at every reference. */
  private def textStats(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"), col("n_chars"), col("text"),
        tokens(col("text")).as("__toks"))
      .select(col("doc_id"),
        size(col("__toks")).as("n_tokens"),
        bpeishCount(col("text")).as("n_pieces"),
        length(col("text")).as("n_chars_actual"),
        col("n_chars"),
        round(avgWordLenOfTokens(col("__toks")), 4).as("avg_word_len"))
      .orderBy(col("doc_id")).limit(500)

  /** PMI collocations — which adjacent word pairs co-occur far more
    * than their parts predict (`ln(p(ab) / (p(a)·p(b)))`), the
    * standard phrase-mining signal (Church & Hanks 1990) a tokenizer
    * or phrase-vocab pipeline runs before merging multiword units.
    * One tokenize pass feeds BOTH the unigram and bigram corpora;
    * counts aggregate to vocabulary cardinality before any join, the
    * two scalar totals ride broadcast, and the unigram table joins the
    * bigram table per-part on vocab keys. A min-support filter (n_ab ≥
    * 5) runs BEFORE the joins — rare-pair noise (PMI's known failure
    * mode) never reaches the join stage. Ordered by rounded PMI so
    * both engines cut the identical top rows. */
  private def textPmi(s: SparkSession, dir: String,
      minCo: Long = 5L, topK: Int = 25): DataFrame = {
    val tk = docs(s, dir).select(tokens(col("text")).as("__toks"))
    val uni = tk.select(explode(col("__toks")).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("n_t"))
    val totTok = uni.agg(sum(col("n_t")).cast("double").as("n_tok"))
    val bg = tk.select(explode(shinglesOfTokens(col("__toks"), 2))
        .as("bigram"))
      .groupBy(col("bigram")).agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= minCo)
      .select(split(col("bigram"), " ").getItem(0).as("a"),
        split(col("bigram"), " ").getItem(1).as("b"),
        col("n_ab"))
    val totBg = tk.select(
        sum(greatest(size(col("__toks")) - 1, lit(0))).cast("double")
          .as("n_bg"))
    bg.join(uni.select(col("t").as("a"), col("n_t").as("n_a")), "a")
      .join(uni.select(col("t").as("b"), col("n_t").as("n_b")), "b")
      .crossJoin(broadcast(totTok))
      .crossJoin(broadcast(totBg))
      .select(col("a"), col("b"), col("n_ab"),
        round(log((col("n_ab") / col("n_bg")) /
          ((col("n_a") / col("n_tok")) * (col("n_b") / col("n_tok")))), 6)
          .as("pmi"))
      .orderBy(desc("pmi"), col("a"), col("b"))
      .limit(topK)
  }

  /** One corpus-scale BPE merge step ([[bpePairCounts]]): top adjacent
    * character pairs weighted by word frequency — the tokenizer-
    * training inner loop, reduced over the word VOCABULARY rather than
    * the corpus. The argmax row is the next merge. */
  private def textBpeStep(s: SparkSession, dir: String): DataFrame =
    bpePairCounts(docs(s, dir), "text")
      .orderBy(desc("cnt"), col("pair"))
      .limit(20)

  /** Full BPE TRAINING loop ([[graft.text.TextAnalysis.bpeTrain]]):
    * `BpeTrainMerges` merges learned to fixpoint over the corpus
    * vocabulary with greedy left-to-right merge semantics and the
    * deterministic (max count, min pair) tie-break. The oracle replays
    * the identical training loop as an unrolled CTE chain in DuckDB —
    * per stage: pair counts, 1-row argmax, and the greedy rewrite via
    * the even-offset-within-match-chain rule (provably equal to the
    * engine's (out, pending) fold: for left ≠ right matches never
    * overlap, for left = right a run of k merges ⌊k/2⌋ pairs at even
    * offsets). Partitioning-invariance of the merge sequence is
    * property-tested in BpeTrainSpec. */
  private def textBpeTrain(s: SparkSession, dir: String): DataFrame =
    bpeTrain(docs(s, dir), "text", TextQueries.BpeTrainMerges)

  /** Heuristic quality signals (stopword/punct/digit ratios, composite
    * score); raw + lowercase token arrays materialized once per doc. */
  private def textQuality(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"), col("text"),
        tokens(col("text")).as("__t"),
        tokens(lower(col("text"))).as("__lt"))
      .select(col("doc_id"),
        round(stopwordRatioOfTokens(col("__lt")), 6).as("sw_ratio"),
        round(punctRatio(col("text")), 6).as("punct_ratio"),
        round(digitRatio(col("text")), 6).as("digit_ratio"),
        round(qualityScoreOfTokens(col("text"), col("__t"), col("__lt")), 6)
          .as("quality"))
      .orderBy(col("doc_id")).limit(500)

  /** Language-ID: per-language marker-hit scores + argmax prediction.
    * Staged: tokenize once → score columns → argmax over the score
    * attributes (the single-expression [[predictLang]] embeds every
    * language's token filter ~5× — fine as an API, wrong in a scan). */
  private def textLangid(s: SparkSession, dir: String): DataFrame = {
    val scored = docs(s, dir)
      .select(col("doc_id"), col("lang").as("labeled"),
        tokens(lower(col("text"))).as("__lt"))
      .select(col("doc_id"), col("labeled"),
        langScoreOfTokens(col("__lt"), LangMarkers.toMap.apply("de")).as("s_de"),
        langScoreOfTokens(col("__lt"), LangMarkers.toMap.apply("en")).as("s_en"),
        langScoreOfTokens(col("__lt"), LangMarkers.toMap.apply("es")).as("s_es"),
        langScoreOfTokens(col("__lt"), LangMarkers.toMap.apply("fr")).as("s_fr"),
        langScoreOfTokens(col("__lt"), LangMarkers.toMap.apply("zh")).as("__s_zh"))
    val attrs = Seq("de" -> col("s_de"), "en" -> col("s_en"),
      "es" -> col("s_es"), "fr" -> col("s_fr"), "zh" -> col("__s_zh"))
    // best materialized as its own column: inlining greatest(5 scores)
    // into every when-branch multiplies the generated code ~10x (one-time
    // codegen cost measured in seconds)
    val withBest = scored.withColumn("__best",
      attrs.map(_._2).reduce(greatest(_, _)))
    val pick = attrs.foldRight(lit("und")) { case ((lang, sc), acc) =>
      when(sc === col("__best") && col("__best") > 0, lit(lang)).otherwise(acc)
    }
    withBest.withColumn("predicted", pick).drop("__s_zh", "__best")
      .orderBy(col("doc_id")).limit(500)
  }

  /** Bottom-k md5 shingle fingerprint (min-k sketch), row-local form:
    * tokens materialized once per doc, shingle→md5→sort→slice all inside
    * one projection — NO shuffle (the explode+groupBy table form pays an
    * exchange on doc id; per-row arrays of a few hundred shingles don't
    * need one). Output is the comma-joined sketch — a plain string, so
    * the oracle can sort and hash it. */
  private def textFingerprint(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"), tokens(col("text")).as("__toks"))
      .select(col("doc_id"),
        array_join(slice(array_sort(
          transform(shinglesOfTokens(col("__toks"), 3), sh => md5(sh))),
          1, 4), ",").as("fp"))
      .orderBy(col("doc_id")).limit(300)

  /** Corpus TF-IDF, top-3 terms per document: per-doc term counts and
    * corpus document frequencies are two hash aggregates; idf joins
    * back on the term key (a |vocab|-sized shuffle join — the idf side
    * is derived data, never broadcast-assumed at corpus scale); the
    * corpus size joins as a broadcast scalar. Ranking ties break on the
    * term so the judged top-k is total-order deterministic; tfidf is
    * rounded BEFORE ranking so a last-ulp libm divergence between
    * engines cannot flip the order. */
  private def textTfidf(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = docs(s, dir)
    val tf = d.select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = d.agg(count(lit(1)).as("n"))
    val scored = tf.join(dfreq, "term").crossJoin(broadcast(n))
      .select(col("doc_id"), col("term"),
        round(col("tf") * log(col("n").cast("double") / col("df")), 4)
          .as("tfidf"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("term").asc)
    scored.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 3 && col("doc_id") < 100)
      .select(col("doc_id"), col("rk"), col("term"), col("tfidf"))
      .orderBy(col("doc_id"), col("rk"))
  }

  /** Within-document repetition ratio (the Gopher/C4-style repeated
    * n-gram filter): 1 − |distinct bigrams| / |bigrams|, row-local —
    * shingle array materialized once, no shuffle at all before the
    * judged sort. */
  private def textRepetition(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"), tokens(col("text")).as("__toks"))
      .select(col("doc_id"), shinglesOfTokens(col("__toks"), 2).as("__sh"))
      .select(col("doc_id"),
        size(col("__sh")).cast("long").as("n_bigrams"),
        when(size(col("__sh")) > 0,
          round(lit(1.0) -
            size(array_distinct(col("__sh"))).cast("double") /
              size(col("__sh")), 4))
          .otherwise(lit(0.0)).as("rep_ratio"))
      .orderBy(col("doc_id")).limit(500)

  /** Gopher-style composite quality gate
    * ([[graft.text.TextAnalysis.compositeFilterReport]]): five heuristic
    * drop rules with per-source, per-rule accounting plus the surviving
    * token budget — the curation report that makes threshold tuning a
    * feedback loop instead of a guess. Thresholds here are tuned so
    * every rule fires on this corpus (each column is live, not
    * vacuously zero). One scan, row-local signals, |sources|-row
    * aggregate. */
  private def textGopherFilter(s: SparkSession, dir: String): DataFrame =
    graft.text.TextAnalysis.compositeFilterReport(
        docs(s, dir), "text", "source")
      .orderBy(col("source"))

  /** Corpus-wide top bigrams: shingle → explode → one hash aggregate
    * (map-side partials make the shuffle |distinct bigrams|, not
    * |tokens|); top-40 with a lexicographic tie-break. */
  private def textBigrams(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"), tokens(col("text")).as("__toks"))
      .select(explode(shinglesOfTokens(col("__toks"), 2)).as("bigram"))
      .groupBy(col("bigram")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram").asc).limit(40)

  /** Sequence packing (training-data extension): documents fill
    * fixed-token-budget packs in deterministic doc_id order — running
    * token cumsum binned by the budget (contiguous-fill packing; a doc
    * lands in the pack its predecessor total falls in). One windowed
    * cumsum + one aggregate; at corpus scale the order column is the
    * shard key so packs build per shard. */
  private def textPack(s: SparkSession, dir: String,
      tokenBudget: Long = 2000L, shardSize: Long = 1000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // packing is shard-local: the cumsum window partitions on the shard
    // (NEVER a global single-partition window), costing at most one
    // partial pack per shard boundary — how distributed packing actually
    // runs over a 100 TB corpus
    val w = Window.partitionBy(col("__shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    docs(s, dir)
      .select(col("doc_id"), floor(col("doc_id") / shardSize).as("__shard"),
        tokenCount(col("text")).cast("long").as("n_tok"))
      .withColumn("__before", coalesce(sum(col("n_tok")).over(w), lit(0L)))
      .withColumn("pack_id",
        col("__shard") * 1000000L + floor(col("__before") / tokenBudget))
      .groupBy(col("pack_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("total_tokens"),
        min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
      .orderBy(col("pack_id"))
  }

  /** Corpus rollup: per (lang, source) doc counts and length stats. */
  private def textRollup(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        round(avg(length(col("text"))), 4).as("avg_len"))
      .orderBy(col("lang"), col("source"))

  /** Token-budget truncation (context-window prep): first 64 tokens,
    * single-space rejoined; judged md5-exact on the truncated text like
    * `t_scrub`, plus before/after counts. */
  private def textTruncate(s: SparkSession, dir: String): DataFrame = {
    import graft.text.TextAnalysis
    docs(s, dir)
      .select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_before"),
        TextAnalysis.truncateTokens(col("text"), 64).as("__t"))
      .select(col("doc_id"), col("n_before"),
        TextAnalysis.tokenCount(col("__t")).cast("long").as("n_after"),
        md5(col("__t")).as("trunc_md5"))
      .orderBy(col("doc_id"))
  }

  /** Vocabulary coverage curve at V ∈ {1,2,5,10,20,40} — the share of
    * running text the top-V token types cover (tokenizer sizing). */
  private def textVocabCoverage(s: SparkSession, dir: String): DataFrame =
    graft.text.TextAnalysis
      .vocabCoverage(docs(s, dir), "text", Seq(1, 2, 5, 10, 20, 40))

  /** Exact duplicated-span removal (Lee et al. 2022 substring dedup at
    * 8-token grain): spans appearing in ≥ 2 distinct docs are deleted
    * from EVERY doc carrying them; judged on the fully rebuilt clean
    * text per doc plus before/removed token counts — the oracle
    * replays span generation, the distinct-doc frequency cut, position
    * coverage, and the rebuild in SQL. */
  private def textSpanDedup(s: SparkSession, dir: String): DataFrame =
    // widen the raw single-row-group scan before the per-token span
    // work (no-op at production scan parallelism): unwidened, every
    // spanDedup stage ran as one task on a 32-core box
    graft.text.TextAnalysis
      .spanDedup(graft.plans.Scale.widen(docs(s, dir)), "text", "doc_id",
        k = 8, minDocs = 2)
      .orderBy(col("doc_id"))

  /** Context-window chunking (window 32, stride 24 — 8-token overlap)
    * over the first 100 docs: chunk arity, per-chunk token counts and
    * an md5 of every chunk's text, all replayed in DuckDB (list_slice
    * + array_to_string over the same regex tokens). */
  private def textChunks(s: SparkSession, dir: String): DataFrame = {
    import graft.text.TextAnalysis
    TextAnalysis.chunkTokens(
      docs(s, dir).filter(col("doc_id") < 100), "text", "doc_id",
      window = 32, stride = 24)
      .select(col("doc_id"), col("chunk_id"),
        col("n_chunk_tokens").cast("long").as("n_chunk_tokens"),
        md5(col("chunk_text")).as("chunk_md5"))
      .orderBy(col("doc_id"), col("chunk_id"))
  }

  /** Cross-doc boilerplate mining (`TextAnalysis.boilerplateShingles`):
    * bigrams present in ≥20 % of a source's documents — the
    * high-document-frequency spans a per-document dedup never sees. */
  private def textBoilerplate(s: SparkSession, dir: String): DataFrame = {
    import graft.text.TextAnalysis
    TextAnalysis.boilerplateShingles(docs(s, dir), "doc_id", "text",
      "source", n = 2, minFrac = 0.2)
      .select(col("source"), col("shingle"), col("n_docs"),
        col("n_total"), col("doc_frac"))
      .orderBy(col("source"), col("shingle"))
  }

  /** Unigram language-model quality score — the KenLM-perplexity
    * stand-in a no-external-models sandbox can defend: each document's
    * mean token log-probability under the CORPUS unigram distribution
    * (rare-token-soup docs score low, common-word prose scores high).
    * Two aggregates: corpus term frequencies (vocabulary-bounded, not
    * corpus-bounded), then a token→freq join and per-doc mean — the
    * same shape at 100 TB with the vocab side broadcast. */
  private def textUnigramLogprob(s: SparkSession, dir: String): DataFrame = {
    import graft.text.TextAnalysis
    val toks = TextAnalysis.shingleRows(docs(s, dir), "doc_id", "text", 1)
    val freq = toks.groupBy(col("shingle")).agg(count(lit(1)).as("c"))
    val total = freq.agg(sum(col("c"))).head.getLong(0).toDouble
    toks.join(broadcast(freq), Seq("shingle"))
      .groupBy(col("id").as("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        round(avg(log(col("c") / lit(total))), 6).as("logprob"))
      .orderBy(col("doc_id"))
  }

  /** Bigram-LM PERPLEXITY — the model-free cousin of LM-based quality
    * filtering: a corpus-trained bigram model with add-k smoothing
    * (k=0.5) scores every document, `ppl = exp(−avg ln P(b|a))`, and
    * outlier perplexity flags boilerplate (too predictable) or noise
    * (too surprising) for the curation pass. Counts aggregate to
    * vocabulary/bigram cardinality before any join; the per-doc score
    * is one aggregate over the doc's bigram rows joined to those
    * count tables; V rides as a scalar. Sub-2-token docs carry no
    * bigram and drop from both engines identically. */
  private def textPerplexity(s: SparkSession, dir: String): DataFrame = {
    import graft.text.TextAnalysis
    // tokenize ONCE into an attribute and derive both grains from it
    // (the textPmi pattern): bg/uni as separate shingleRows calls
    // would each re-split the text
    // tokenize ONCE, PINNED (measured tier): the token frame feeds the
    // count-table aggregate AND the per-doc bigram occurrences — left
    // unpinned, the final job re-tokenized the whole corpus for `bg`
    // (the r12 residual: the old window form's Exchange was being
    // reused where the narrow form re-derived). The pin's
    // materialization is the usual single action (guide §5).
    // widen the raw single-row-group scan before the per-token work
    // (Scale.widen is a no-op at production scan parallelism) — every
    // downstream stage here was otherwise one task on a 32-core box
    val graft.plans.Pinned(tk, tkBytes, _) = graft.plans.Pin(
      graft.plans.Scale.widen(docs(s, dir)).select(col("doc_id"),
        TextAnalysis.tokens(col("text")).as("__toks")))
    val bg = tk.select(col("doc_id").as("id"),
      explode(TextAnalysis.shinglesOfTokens(col("__toks"), 2))
        .as("shingle"))
    // ONE tokenize pass feeds BOTH count tables and the vocab size:
    // unigram and bigram grains explode together and aggregate to
    // vocabulary/bigram cardinality, and the tiny result is pinned so
    // its three consumers (c_ab, c_a, V) share the single derivation —
    // as separate subplans each reference re-tokenized the corpus
    // (guide §1.2: 4 full passes for a query that needs 2). The grains
    // can't collide in one groupBy: tokens split on whitespace so a
    // unigram never contains a space, a 2-shingle always does.
    // LAZY pin (⊆ the measured token frame prices its tier): the
    // vocabulary-size count right below is its first consumer, so the
    // one scalar action materializes the count table too.
    val cnt = tk.select(explode(concat(col("__toks"),
        TextAnalysis.shinglesOfTokens(col("__toks"), 2))).as("g"))
      .groupBy(col("g")).agg(count(lit(1)).as("c"))
      .transform(graft.plans.Pin.deferred(_, tkBytes))
    val cAb = cnt.filter(col("g").contains(" "))
      .select(col("g").as("shingle"), col("c").as("c_ab"))
    val cA = cnt.filter(!col("g").contains(" "))
      .select(col("g").as("a"), col("c").as("c_a"))
    val v = cA.count().toDouble // vocabulary size: the one driver scalar
    val k = 0.5
    // count tables are vocabulary-bounded, the occurrence frame is
    // corpus-bounded: broadcast the bounded side (the
    // textUnigramLogprob / textSearch precedent) so the per-occurrence
    // bigram rows never exchange
    bg.join(broadcast(cAb), Seq("shingle"))
      .withColumn("a", split(col("shingle"), " ").getItem(0))
      .join(broadcast(cA), Seq("a"))
      .groupBy(col("id").as("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        round(exp(-avg(log((col("c_ab") + lit(k)) /
          (col("c_a") + lit(k * v))))), 4).as("ppl"))
      .orderBy(col("doc_id")).limit(500)
  }

  /** Inverted-index keyword retrieval: conjunctive ("spark" AND
    * "table") search ranked by tf·idf — the lake-side search primitive
    * (build postings once, serve many queries). The postings build is
    * one (term, doc) aggregate; the query touches ONLY the searched
    * terms' postings (a selective filter that pushes to the postings
    * scan when they're materialized), the per-term df side is
    * term-bounded and broadcasts, and the AND gate is a
    * count-distinct-terms filter — no self-join per term pair. */
  private def textSearch(s: SparkSession, dir: String): DataFrame = {
    import graft.text.TextAnalysis
    val d = docs(s, dir)
    val terms = Seq("spark", "table")
    val nDocs = d.count().toDouble
    val post = TextAnalysis.shingleRows(d, "doc_id", "text", 1)
      .filter(col("shingle").isin(terms: _*))
      .groupBy(col("shingle"), col("id"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = post.groupBy(col("shingle"))
      .agg(countDistinct(col("id")).as("dfc"))
    post.join(broadcast(dfreq), Seq("shingle"))
      .groupBy(col("id").as("doc_id"))
      .agg(countDistinct(col("shingle")).as("n_terms"),
        round(sum(col("tf") * log(lit(nDocs) / col("dfc"))), 6).as("score"))
      .filter(col("n_terms") === terms.size)
      .select(col("doc_id"), col("score"))
      .orderBy(desc("score"), col("doc_id"))
      .limit(20)
  }

  /** BM25-ranked disjunctive retrieval — the standard lexical ranking
    * function (Robertson-Spärck Jones; k1 = 1.2, b = 0.75), OR
    * semantics where [[textSearch]] is AND-gated tf·idf. Per (term,
    * doc): idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)) with
    * idf = ln(1 + (N − df + ½)/(df + ½)). Scale shape: postings touch
    * only the searched terms, the df table and the (N, avgdl) scalar
    * row broadcast, and doc length comes from a (doc, len) aggregate —
    * at serving scale that table is precomputed once per corpus, here
    * it shares the postings' explode. */
  private def textBm25(s: SparkSession, dir: String): DataFrame = {
    import graft.text.TextAnalysis
    val terms = Seq("spark", "data", "pipeline")
    val (k1, b) = (1.2, 0.75)
    val toks = TextAnalysis.shingleRows(docs(s, dir), "doc_id", "text", 1)
    val dl = toks.groupBy(col("id")).agg(count(lit(1)).as("dl"))
    val stats = dl.agg(count(lit(1)).cast("double").as("nd"),
      avg(col("dl")).as("avgdl"))
    val post = toks.filter(col("shingle").isin(terms: _*))
      .groupBy(col("shingle"), col("id")).agg(count(lit(1)).as("tf"))
    val dfreq = post.groupBy(col("shingle"))
      .agg(countDistinct(col("id")).as("dfc"))
    val idf = log(lit(1.0)
      + (col("nd") - col("dfc") + 0.5) / (col("dfc") + 0.5))
    val norm = col("tf") +
      lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))
    post.join(broadcast(dfreq), Seq("shingle"))
      .join(dl, Seq("id"))
      .crossJoin(broadcast(stats))
      .groupBy(col("id").as("doc_id"))
      .agg(round(sum(idf * col("tf") * (k1 + 1.0) / norm), 6).as("score"))
      .orderBy(desc("score"), col("doc_id"))
      .limit(25)
  }

  /** Feature hashing ([[graft.text.TextAnalysis.hashFeatures]]): every
    * token mapped to one of 64 slots by the portable keyed hash —
    * fixed-width sparse vectorization with no vocabulary table, judged
    * on each document's exact (slot, count) pairs. */
  private def textFeatureHash(s: SparkSession, dir: String): DataFrame =
    graft.text.TextAnalysis.hashFeatures(
        docs(s, dir).filter(col("doc_id") < 100), "doc_id", "text",
        nBuckets = 64, salt = "fh")
      .withColumnRenamed("id", "doc_id")
      .orderBy(col("doc_id"), col("bucket"))

  def queries: Map[String, Q] = Map(
    "text_search" -> (textSearch _),
    "text_bm25" -> (textBm25 _),
    "text_feature_hash" -> (textFeatureHash _),
    "text_unigram_logprob" -> (textUnigramLogprob _),
    "text_boilerplate" -> (textBoilerplate _),
    "text_chunks" -> (textChunks _),
    "text_truncate" -> (textTruncate _),
    "text_span_dedup" -> (textSpanDedup _),
    "text_vocab_coverage" -> (textVocabCoverage _),
    "text_stats" -> (textStats _),
    "text_bpe_step" -> (textBpeStep _),
    "text_bpe_train" -> (textBpeTrain _),
    "text_quality" -> (textQuality _),
    "text_langid" -> (textLangid _),
    "text_fingerprint" -> (textFingerprint _),
    "text_rollup" -> (textRollup _),
    "text_tfidf" -> (textTfidf _),
    "text_bigrams" -> (textBigrams _),
    "text_pmi" -> ((s: SparkSession, dir: String) => textPmi(s, dir)),
    "text_perplexity" -> (textPerplexity _),
    "text_repetition" -> (textRepetition _),
    "text_gopher_filter" -> (textGopherFilter _),
    "text_pack" -> ((s: SparkSession, dir: String) => textPack(s, dir))
  )

  private val tokensSql = "string_split_regex(trim(text), '\\s+')"

  /** Merges learned by `text_bpe_train` — the oracle unrolls one CTE
    * stage per merge, so this stays a small constant. */
  val BpeTrainMerges = 10

  /** Oracle generator for `text_bpe_train`: the IDENTICAL training
    * loop as an unrolled CTE chain (DuckDB cannot loop) — stage k
    * computes pair counts over vocab v(k-1), the deterministic argmax
    * m(k), and the greedily-merged vocab v(k). The greedy rewrite uses
    * the even-offset-within-match-chain rule (gaps-and-islands over
    * match positions), which equals the engine's (out, pending) fold;
    * consumed positions (previous position merged) drop via the
    * self-join on j-1. `AS MATERIALIZED` on every re-referenced CTE —
    * DuckDB re-inlines by default and each v(k) is read twice. */
  private def bpeTrainOracle(n: Int): String = {
    val parts = Seq.newBuilder[String]
    parts += """v0 AS MATERIALIZED (
      |  SELECT w, count(*) AS f, string_split(w, '') AS syms
      |  FROM (SELECT unnest(string_split_regex(trim(lower(text)),
      |      '\s+')) AS w
      |    FROM documents)
      |  WHERE len(w) >= 2 GROUP BY w)""".stripMargin
    for (k <- 1 to n) {
      val p = k - 1
      parts += s"""p$k AS MATERIALIZED (
        |  SELECT syms[j] AS l, syms[j+1] AS r, sum(f) AS cnt
        |  FROM v$p, LATERAL (SELECT unnest(generate_series(1,
        |      len(syms) - 1)) AS j) g
        |  GROUP BY 1, 2)""".stripMargin
      parts += s"""m$k AS MATERIALIZED (
        |  SELECT l, r, cnt FROM p$k ORDER BY cnt DESC, l, r LIMIT 1)"""
        .stripMargin
      if (k < n) {
        parts += s"""e$k AS MATERIALIZED (
          |  SELECT w, f, j, syms[j] AS s,
          |    CASE WHEN j < len(syms) THEN syms[j+1] END AS nx
          |  FROM v$p, LATERAL (SELECT unnest(generate_series(1,
          |      len(syms))) AS j) g)""".stripMargin
        parts += s"""h$k AS (
          |  SELECT w, j, row_number() OVER (PARTITION BY w ORDER BY j)
          |    AS rn
          |  FROM e$k
          |  WHERE coalesce(s = (SELECT l FROM m$k)
          |    AND nx = (SELECT r FROM m$k), false))""".stripMargin
        parts += s"""mm$k AS MATERIALIZED (
          |  SELECT w, j FROM (
          |    SELECT w, j, row_number() OVER (PARTITION BY w, j - rn
          |      ORDER BY j) AS rno
          |    FROM h$k)
          |  WHERE rno % 2 = 1)""".stripMargin
        parts += s"""v$k AS MATERIALIZED (
          |  SELECT e.w, e.f,
          |    list(CASE WHEN mm.j IS NOT NULL THEN e.s || e.nx
          |      ELSE e.s END ORDER BY e.j) AS syms
          |  FROM e$k e
          |  LEFT JOIN mm$k mm ON mm.w = e.w AND mm.j = e.j
          |  LEFT JOIN mm$k pv ON pv.w = e.w AND pv.j = e.j - 1
          |  WHERE pv.j IS NULL
          |  GROUP BY e.w, e.f)""".stripMargin
      }
    }
    val sel = (1 to n).map(k =>
      s"SELECT CAST($k AS INT) AS merge_no, l AS left_sym, " +
        s"r AS right_sym, CAST(cnt AS BIGINT) AS cnt FROM m$k")
      .mkString("\nUNION ALL\n")
    "WITH " + parts.result().mkString(",\n") + "\n" + sel +
      "\nORDER BY merge_no"
  }

  private def markerListSql(lang: String): String =
    LangMarkers.toMap.apply(lang).map(w => s"'$w'").mkString("[", ", ", "]")

  private def scoreSql(lang: String): String =
    s"len(list_filter(string_split_regex(trim(lower(text)), '\\s+'), " +
      s"x -> list_contains(${markerListSql(lang)}, x)))"

  def oracleSql: Map[String, String] = Map(
    "text_bpe_train" -> bpeTrainOracle(BpeTrainMerges),
    "text_search" ->
      s"""WITH tok AS (
        |  SELECT doc_id, unnest($tokensSql) AS t FROM documents),
        |post AS (
        |  SELECT doc_id, t, count(*) AS tf FROM tok
        |  WHERE t IN ('spark', 'table') GROUP BY 1, 2),
        |dfq AS (SELECT t, count(DISTINCT doc_id) AS dfc
        |  FROM post GROUP BY t),
        |tot AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents)
        |SELECT doc_id,
        |  round(sum(tf * ln((SELECT n FROM tot) / dfc)), 6) AS score
        |FROM post JOIN dfq USING (t)
        |GROUP BY doc_id
        |HAVING count(DISTINCT t) = 2
        |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,
    "text_feature_hash" ->
      s"""WITH tok AS (
        |  SELECT doc_id, unnest($tokensSql) AS t
        |  FROM documents WHERE doc_id < 100)
        |SELECT doc_id,
        |  CAST('0x' || substr(md5('fh|' || t), 1, 7) AS BIGINT) % 64
        |    AS bucket,
        |  count(*) AS n
        |FROM tok GROUP BY 1, 2
        |ORDER BY doc_id, bucket""".stripMargin,
    "text_bm25" ->
      s"""WITH tok AS (
        |  SELECT doc_id, unnest($tokensSql) AS t FROM documents),
        |dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
        |st AS (SELECT CAST(count(*) AS DOUBLE) AS nd,
        |  avg(CAST(dl AS DOUBLE)) AS avgdl FROM dl),
        |post AS (
        |  SELECT doc_id, t, count(*) AS tf FROM tok
        |  WHERE t IN ('spark', 'data', 'pipeline') GROUP BY 1, 2),
        |dfq AS (SELECT t, count(DISTINCT doc_id) AS dfc
        |  FROM post GROUP BY t)
        |SELECT doc_id,
        |  round(sum(
        |    ln(1.0 + ((SELECT nd FROM st) - dfc + 0.5) / (dfc + 0.5))
        |    * tf * (1.2 + 1.0)
        |    / (tf + 1.2 * (0.25 + 0.75 * dl / (SELECT avgdl FROM st)))),
        |    6) AS score
        |FROM post JOIN dfq USING (t) JOIN dl USING (doc_id)
        |GROUP BY doc_id
        |ORDER BY score DESC, doc_id LIMIT 25""".stripMargin,
    "text_unigram_logprob" ->
      s"""WITH tok AS (
        |  SELECT doc_id, unnest($tokensSql) AS t FROM documents),
        |f AS (SELECT t, count(*) AS c FROM tok GROUP BY t),
        |tot AS (SELECT CAST(sum(c) AS DOUBLE) AS total FROM f)
        |SELECT doc_id, count(*) AS n_tokens,
        |  round(avg(ln(c / (SELECT total FROM tot))), 6) AS logprob
        |FROM tok JOIN f USING (t)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "text_boilerplate" ->
      s"""WITH tok AS (
        |  SELECT doc_id, source, $tokensSql AS ts FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, source,
        |    concat_ws(' ', ts[g], ts[g + 1]) AS shingle
        |  FROM tok, LATERAL (SELECT unnest(generate_series(1,
        |    greatest(len(ts) - 1, 0))) AS g) s),
        |freq AS (
        |  SELECT source, shingle, count(*) AS n_docs
        |  FROM sh GROUP BY 1, 2),
        |tot AS (SELECT source, count(*) AS n_total
        |  FROM documents GROUP BY 1)
        |SELECT source, shingle, n_docs, n_total,
        |  round(CAST(n_docs AS DOUBLE) / n_total, 4) AS doc_frac
        |FROM freq JOIN tot USING (source)
        |WHERE n_docs >= ceil(n_total * 0.2)
        |ORDER BY source, shingle""".stripMargin,
    "text_chunks" ->
      s"""WITH t AS (
        |  SELECT doc_id, $tokensSql AS tk FROM documents
        |  WHERE doc_id < 100),
        |n AS (SELECT doc_id, tk, len(tk) AS nt FROM t WHERE len(tk) > 0),
        |starts AS (
        |  SELECT doc_id, tk, nt, unnest(generate_series(0, nt - 1, 24))
        |    AS s
        |  FROM n)
        |SELECT doc_id, CAST(s / 24 AS INT) AS chunk_id,
        |  CAST(len(tk[s + 1 : s + 32]) AS BIGINT) AS n_chunk_tokens,
        |  md5(array_to_string(tk[s + 1 : s + 32], ' ')) AS chunk_md5
        |FROM starts
        |ORDER BY doc_id, chunk_id""".stripMargin,
    "text_truncate" ->
      s"""SELECT doc_id,
         |  CAST(len($tokensSql) AS BIGINT) AS n_before,
         |  CAST(least(len($tokensSql), 64) AS BIGINT) AS n_after,
         |  md5(array_to_string($tokensSql[1:64], ' ')) AS trunc_md5
         |FROM documents ORDER BY doc_id""".stripMargin,
    "text_vocab_coverage" ->
      s"""WITH counts AS (
         |  SELECT t AS tok, count(*) AS n FROM (
         |    SELECT unnest($tokensSql) AS t FROM documents)
         |  GROUP BY 1),
         |cum AS (
         |  SELECT tok, n,
         |    CAST(row_number() OVER (ORDER BY n DESC, tok) AS BIGINT)
         |      AS rk,
         |    sum(n) OVER (ORDER BY n DESC, tok
         |      ROWS UNBOUNDED PRECEDING) AS cumn
         |  FROM counts),
         |total AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM counts),
         |grid AS (SELECT unnest([1, 2, 5, 10, 20, 40]) AS vocab_size)
         |SELECT vocab_size, max(rk) AS n_types,
         |  CAST(max(cumn) AS BIGINT) AS covered_tokens,
         |  max(tot) AS total_tokens,
         |  round(CAST(max(cumn) AS BIGINT) * 100.0 / max(tot), 6)
         |    AS coverage_pct
         |FROM grid LEFT JOIN cum ON rk <= vocab_size CROSS JOIN total
         |GROUP BY vocab_size
         |ORDER BY vocab_size""".stripMargin,
    "text_span_dedup" ->
      s"""WITH toks AS (
         |  SELECT doc_id, $tokensSql AS t FROM documents),
         |occ AS (
         |  SELECT doc_id, i - 1 AS strt,
         |    array_to_string(t[i:i+7], ' ') AS gram
         |  FROM toks,
         |    LATERAL unnest(generate_series(1, greatest(0, len(t) - 7)))
         |      AS g(i)),
         |freq AS (
         |  SELECT gram FROM occ GROUP BY 1
         |  HAVING count(DISTINCT doc_id) >= 2),
         |cov AS (
         |  SELECT DISTINCT o.doc_id, o.strt + f.o AS pos
         |  FROM occ o JOIN freq USING (gram),
         |    LATERAL unnest(generate_series(0, 7)) AS f(o)),
         |tok AS (
         |  SELECT doc_id, t[i] AS tok, i - 1 AS pos
         |  FROM toks, LATERAL unnest(generate_series(1, len(t))) AS g(i)),
         |kc AS (
         |  SELECT tk.doc_id, count(*) AS n_kept,
         |    string_agg(tk.tok, ' ' ORDER BY tk.pos) AS clean_text
         |  FROM tok tk
         |  WHERE NOT EXISTS (SELECT 1 FROM cov
         |    WHERE cov.doc_id = tk.doc_id AND cov.pos = tk.pos)
         |  GROUP BY 1)
         |SELECT t.doc_id, CAST(len(t.t) AS BIGINT) AS n_tokens,
         |  CAST(len(t.t) - coalesce(kc.n_kept, 0) AS BIGINT) AS n_removed,
         |  coalesce(kc.clean_text, '') AS clean_text
         |FROM toks t LEFT JOIN kc ON t.doc_id = kc.doc_id
         |ORDER BY t.doc_id""".stripMargin,
    "text_tfidf" ->
      s"""WITH tf AS (SELECT doc_id, t.term, count(*) AS tf
        |  FROM documents, unnest($tokensSql) AS t(term)
        |  GROUP BY doc_id, t.term),
        |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        |nn AS (SELECT count(*) AS n FROM documents),
        |scored AS (SELECT doc_id, term,
        |    round(tf * ln(CAST(n AS DOUBLE) / df), 4) AS tfidf
        |  FROM tf JOIN dfreq USING (term) CROSS JOIN nn),
        |ranked AS (SELECT doc_id, term, tfidf,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY tfidf DESC, term) AS rk
        |  FROM scored)
        |SELECT doc_id, rk, term, tfidf FROM ranked
        |WHERE rk <= 3 AND doc_id < 100
        |ORDER BY doc_id, rk""".stripMargin,
    "text_gopher_filter" ->
      s"""WITH b AS (SELECT source, $tokensSql AS tk,
        |    string_split_regex(trim(lower(text)), '\\s+') AS ltk
        |  FROM documents),
        |m AS (SELECT source, CAST(len(tk) AS BIGINT) AS n,
        |    CASE WHEN len(tk) > 0 THEN
        |      CAST(list_aggregate(list_transform(tk, x -> length(x)),
        |        'sum') AS DOUBLE) / len(tk) ELSE 0.0 END AS awl,
        |    CASE WHEN len(ltk) > 0 THEN
        |      CAST(len(list_filter(ltk, x -> list_contains(['the', 'a',
        |        'an', 'and', 'or', 'of', 'to', 'in', 'is', 'it', 'that',
        |        'for', 'on', 'with', 'as', 'at', 'by', 'be'], x)))
        |        AS DOUBLE) / len(ltk) ELSE 0.0 END AS swr,
        |    CASE WHEN len(tk) >= 2 THEN
        |      1.0 - CAST(len(list_distinct(list_transform(
        |        generate_series(1, len(tk) - 1),
        |        i -> array_to_string(tk[i:i+1], ' ')))) AS DOUBLE)
        |        / (len(tk) - 1)
        |    ELSE 0.0 END AS rep
        |  FROM b),
        |r AS (SELECT source, n,
        |    n < 20 AS r_short, n > 90 AS r_long,
        |    awl < 4.2 OR awl > 4.8 AS r_word_len,
        |    swr < 0.01 AS r_stopword,
        |    rep > 0.05 AS r_repetition
        |  FROM m)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN r_short THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_too_short,
        |  CAST(sum(CASE WHEN r_long THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_too_long,
        |  CAST(sum(CASE WHEN r_word_len THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_word_len,
        |  CAST(sum(CASE WHEN r_stopword THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_low_stopword,
        |  CAST(sum(CASE WHEN r_repetition THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_repetitive,
        |  CAST(sum(CASE WHEN r_short OR r_long OR r_word_len OR r_stopword
        |    OR r_repetition THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
        |  CAST(sum(CASE WHEN NOT (r_short OR r_long OR r_word_len
        |    OR r_stopword OR r_repetition) THEN n ELSE 0 END) AS BIGINT)
        |    AS kept_tokens
        |FROM r GROUP BY source ORDER BY source""".stripMargin,
    "text_repetition" ->
      s"""WITH toks AS (SELECT doc_id, $tokensSql AS tk FROM documents),
        |sh AS (SELECT doc_id, CASE WHEN len(tk) >= 2 THEN
        |      list_transform(generate_series(1, len(tk) - 1),
        |        i -> array_to_string(tk[i:i+1], ' '))
        |    ELSE [] END AS shl
        |  FROM toks)
        |SELECT doc_id, CAST(len(shl) AS BIGINT) AS n_bigrams,
        |  CASE WHEN len(shl) > 0 THEN
        |    round(1.0 - CAST(len(list_distinct(shl)) AS DOUBLE) / len(shl), 4)
        |  ELSE 0.0 END AS rep_ratio
        |FROM sh ORDER BY doc_id LIMIT 500""".stripMargin,
    "text_perplexity" ->
      s"""WITH toks AS (SELECT doc_id, $tokensSql AS tk FROM documents),
        |bg AS (SELECT doc_id, unnest(CASE WHEN len(tk) >= 2 THEN
        |      list_transform(generate_series(1, len(tk) - 1),
        |        i -> array_to_string(tk[i:i+1], ' '))
        |    ELSE [] END) AS bigram
        |  FROM toks),
        |cab AS (SELECT bigram, count(*) AS c_ab FROM bg GROUP BY 1),
        |uni AS (SELECT unnest(tk) AS t FROM toks),
        |ca AS (SELECT t, count(*) AS c_a FROM uni GROUP BY 1),
        |vv AS (SELECT CAST(count(*) AS DOUBLE) AS v FROM ca)
        |SELECT doc_id, count(*) AS n_bigrams,
        |  round(exp(-avg(ln((c_ab + 0.5) /
        |    (c_a + 0.5 * (SELECT v FROM vv))))), 4) AS ppl
        |FROM bg
        |JOIN cab USING (bigram)
        |JOIN ca ON ca.t = string_split(bigram, ' ')[1]
        |GROUP BY doc_id ORDER BY doc_id LIMIT 500""".stripMargin,
    "text_pmi" ->
      s"""WITH toks AS (SELECT $tokensSql AS tk FROM documents),
        |uni AS (
        |  SELECT t, count(*) AS n_t
        |  FROM (SELECT unnest(tk) AS t FROM toks) GROUP BY t),
        |tot AS (SELECT CAST(sum(n_t) AS DOUBLE) AS n_tok FROM uni),
        |bgtot AS (SELECT CAST(sum(greatest(len(tk) - 1, 0)) AS DOUBLE)
        |    AS n_bg FROM toks),
        |bg AS (
        |  SELECT string_split(bigram, ' ')[1] AS a,
        |    string_split(bigram, ' ')[2] AS b, count(*) AS n_ab
        |  FROM (SELECT unnest(CASE WHEN len(tk) >= 2 THEN
        |        list_transform(generate_series(1, len(tk) - 1),
        |          i -> array_to_string(tk[i:i+1], ' '))
        |      ELSE [] END) AS bigram FROM toks)
        |  GROUP BY bigram HAVING count(*) >= 5)
        |SELECT a, b, n_ab,
        |  round(ln((n_ab / (SELECT n_bg FROM bgtot)) /
        |    ((ua.n_t / (SELECT n_tok FROM tot)) *
        |     (ub.n_t / (SELECT n_tok FROM tot)))), 6) AS pmi
        |FROM bg
        |JOIN uni ua ON ua.t = a
        |JOIN uni ub ON ub.t = b
        |ORDER BY pmi DESC, a, b LIMIT 25""".stripMargin,
    "text_bigrams" ->
      s"""WITH toks AS (SELECT $tokensSql AS tk FROM documents),
        |sh AS (SELECT unnest(CASE WHEN len(tk) >= 2 THEN
        |      list_transform(generate_series(1, len(tk) - 1),
        |        i -> array_to_string(tk[i:i+1], ' '))
        |    ELSE [] END) AS bigram
        |  FROM toks)
        |SELECT bigram, count(*) AS n FROM sh
        |GROUP BY bigram ORDER BY n DESC, bigram ASC LIMIT 40""".stripMargin,
    "text_pack" ->
      s"""WITH t AS (SELECT doc_id, doc_id // 1000 AS shard,
        |    CAST(len($tokensSql) AS BIGINT) AS n_tok FROM documents),
        |c AS (SELECT doc_id, shard, n_tok,
        |    coalesce(sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS before FROM t)
        |SELECT CAST(shard * 1000000 + before // 2000 AS BIGINT) AS pack_id,
        |  count(*) AS n_docs,
        |  CAST(sum(n_tok) AS BIGINT) AS total_tokens,
        |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM c GROUP BY 1 ORDER BY pack_id""".stripMargin,
    "text_bpe_step" ->
      """WITH words AS (
        |  SELECT w, count(*) AS f FROM (
        |    SELECT unnest(string_split_regex(trim(lower(text)), '\s+'))
        |      AS w
        |    FROM documents)
        |  WHERE len(w) >= 2 GROUP BY w),
        |pairs AS (
        |  SELECT f, unnest(list_transform(generate_series(1, len(w) - 1),
        |    i -> substring(w, i, 1) || ' ' || substring(w, i + 1, 1)))
        |      AS pair
        |  FROM words)
        |SELECT pair, CAST(sum(f) AS BIGINT) AS cnt
        |FROM pairs GROUP BY 1
        |ORDER BY cnt DESC, pair LIMIT 20""".stripMargin,
    "text_stats" ->
      s"""SELECT doc_id,
        |  CAST(len($tokensSql) AS INT) AS n_tokens,
        |  CAST(len(regexp_extract_all(text,
        |    '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS INT) AS n_pieces,
        |  CAST(length(text) AS INT) AS n_chars_actual,
        |  n_chars,
        |  round(CAST(list_aggregate(list_transform($tokensSql,
        |    x -> length(x)), 'sum') AS DOUBLE) / len($tokensSql), 4)
        |    AS avg_word_len
        |FROM documents ORDER BY doc_id LIMIT 500""".stripMargin,
    "text_quality" ->
      s"""WITH b AS (SELECT doc_id, text,
        |    CAST(len(list_filter(string_split_regex(trim(lower(text)),
        |      '\\s+'), x -> list_contains(['the', 'a', 'an', 'and', 'or',
        |      'of', 'to', 'in', 'is', 'it', 'that', 'for', 'on', 'with',
        |      'as', 'at', 'by', 'be'], x))) AS DOUBLE)
        |      / len($tokensSql) AS swr,
        |    CAST(len(regexp_extract_all(text, '[.,;:!?''"()-]'))
        |      AS DOUBLE) / length(text) AS pr,
        |    CAST(len(regexp_extract_all(text, '[0-9]')) AS DOUBLE)
        |      / length(text) AS dr,
        |    least(CAST(len($tokensSql) AS DOUBLE) / 100.0, 1.0) AS lens
        |  FROM documents)
        |SELECT doc_id, round(swr, 6) AS sw_ratio,
        |  round(pr, 6) AS punct_ratio, round(dr, 6) AS digit_ratio,
        |  round(greatest(0.0, least(1.0,
        |    lens * 0.4 + least(swr * 5.0, 1.0) * 0.4 +
        |    (1.0 - least((pr + dr) * 5.0, 1.0)) * 0.2)), 6) AS quality
        |FROM b ORDER BY doc_id LIMIT 500""".stripMargin,
    "text_langid" ->
      s"""SELECT doc_id, lang AS labeled,
        |  CAST(${scoreSql("de")} AS INT) AS s_de,
        |  CAST(${scoreSql("en")} AS INT) AS s_en,
        |  CAST(${scoreSql("es")} AS INT) AS s_es,
        |  CAST(${scoreSql("fr")} AS INT) AS s_fr,
        |  CASE
        |    WHEN ${scoreSql("de")} = greatest(${scoreSql("de")},
        |      ${scoreSql("en")}, ${scoreSql("es")}, ${scoreSql("fr")})
        |      AND ${scoreSql("de")} > 0 THEN 'de'
        |    WHEN ${scoreSql("en")} = greatest(${scoreSql("de")},
        |      ${scoreSql("en")}, ${scoreSql("es")}, ${scoreSql("fr")})
        |      AND ${scoreSql("en")} > 0 THEN 'en'
        |    WHEN ${scoreSql("es")} = greatest(${scoreSql("de")},
        |      ${scoreSql("en")}, ${scoreSql("es")}, ${scoreSql("fr")})
        |      AND ${scoreSql("es")} > 0 THEN 'es'
        |    WHEN ${scoreSql("fr")} = greatest(${scoreSql("de")},
        |      ${scoreSql("en")}, ${scoreSql("es")}, ${scoreSql("fr")})
        |      AND ${scoreSql("fr")} > 0 THEN 'fr'
        |    ELSE 'und' END AS predicted
        |FROM documents ORDER BY doc_id LIMIT 500""".stripMargin,
    "text_fingerprint" ->
      s"""WITH t AS (SELECT doc_id, $tokensSql AS toks FROM documents)
        |SELECT doc_id,
        |  CASE WHEN len(toks) >= 3 THEN
        |    array_to_string(list_sort(list_transform(
        |      generate_series(1, len(toks) - 2),
        |      i -> md5(array_to_string(toks[i:i+2], ' '))))[1:4], ',')
        |  ELSE '' END AS fp
        |FROM t ORDER BY doc_id LIMIT 300""".stripMargin,
    "text_rollup" ->
      """SELECT lang, source, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |  round(avg(length(text)), 4) AS avg_len
        |FROM documents GROUP BY lang, source
        |ORDER BY lang, source""".stripMargin
  )
}
