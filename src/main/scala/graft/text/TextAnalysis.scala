package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * tokenization/counting, quality scoring, language ID, document
  * fingerprinting. All pure Column compositions (no UDFs) — each runs
  * inside whole-stage codegen over a 100 TB `documents` table.
  *
  * These extend the reference's surface (its text handling stops at
  * regex validators, `common_utils.py:54-97`); shapes follow standard
  * web-scale corpus pipelines (C4/CCNet-style heuristic filters).
  */
object TextAnalysis {

  /** Whitespace tokens, empties dropped. */
  def tokens(c: Column): Column =
    filter(split(trim(c), "\\s+"), t => length(t) > 0)

  def tokenCount(c: Column): Column = size(tokens(c))

  /** Token-budget truncation: keep the first `maxTokens` whitespace
    * tokens, rejoined single-spaced (whitespace normalizes as a side
    * effect — the usual contract when context windows are counted in
    * tokens, not characters). Pure column expression, codegen HOFs. */
  def truncateTokens(c: Column, maxTokens: Int): Column =
    concat_ws(" ", slice(tokens(c), 1, maxTokens))

  /** Context-window chunking with overlap — the pretraining-corpus
    * reshape: every document splits into `window`-token chunks whose
    * starts step by `stride` (stride < window ⇒ overlapping windows,
    * the standard way not to lose cross-boundary context). The final
    * chunk may be short (it keeps the document tail); empty documents
    * produce no chunks. One projection + one explode — no shuffle, no
    * UDF: at 100 TB this is a map stage whose output feeds packing
    * ([[graft.queries.TextQueries]] `text_pack`) or tokenization
    * directly. Output: input id column + `chunk_id` (0,1,…; start
    * token = chunk_id·stride), `n_chunk_tokens`, `chunk_text`.
    */
  def chunkTokens(df: org.apache.spark.sql.DataFrame, textCol: String,
      idCol: String, window: Int, stride: Int)
      : org.apache.spark.sql.DataFrame = {
    require(window > 0 && stride > 0 && stride <= window,
      s"need 0 < stride <= window (got window=$window stride=$stride)")
    df.select(col(idCol), tokens(col(textCol)).as("__toks"))
      .withColumn("__n", size(col("__toks")))
      .filter(col("__n") > 0)
      .select(col(idCol), col("__toks"),
        explode(sequence(lit(0), col("__n") - 1, lit(stride)))
          .as("__start"))
      .select(col(idCol),
        (col("__start") / stride).cast("int").as("chunk_id"),
        slice(col("__toks"), col("__start") + 1, lit(window)).as("__chunk"))
      .select(col(idCol), col("chunk_id"),
        size(col("__chunk")).as("n_chunk_tokens"),
        concat_ws(" ", col("__chunk")).as("chunk_text"))
  }

  /** BPE-ish subword proxy: alpha runs, digit runs, and single
    * non-alphanumeric marks — a cheap, deterministic stand-in for a
    * byte-pair tokenizer's piece count. */
  def bpeishCount(c: Column): Column =
    size(regexp_extract_all(c, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0)))

  def avgWordLen(c: Column): Column = avgWordLenOfTokens(tokens(c))

  /** [[avgWordLen]] over a materialized token-array column. Prefer this
    * in pipelines: higher-order functions are interpreted (no codegen,
    * no common-subexpression elimination), so a computed `tokens(...)`
    * argument is re-evaluated at every reference. */
  def avgWordLenOfTokens(t: Column): Column =
    when(size(t) > 0,
      aggregate(t, lit(0L), (acc, x) => acc + length(x)).cast("double") /
        size(t))

  /** Character-class ratios over the raw text. */
  def punctRatio(c: Column): Column =
    when(length(c) > 0,
      size(regexp_extract_all(c, lit("[.,;:!?'\"()-]"), lit(0))).cast("double")
        / length(c)).otherwise(0.0)

  def digitRatio(c: Column): Column =
    when(length(c) > 0,
      size(regexp_extract_all(c, lit("[0-9]"), lit(0))).cast("double") /
        length(c)).otherwise(0.0)

  /** English stopword hit ratio over tokens (C4-style signal). */
  val EnglishStopwords: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "that", "for", "on", "with", "as", "at", "by", "be")

  def stopwordRatio(c: Column,
      stopwords: Seq[String] = EnglishStopwords): Column =
    stopwordRatioOfTokens(tokens(lower(c)), stopwords)

  /** [[stopwordRatio]] over a materialized lowercase token column. */
  def stopwordRatioOfTokens(lt: Column,
      stopwords: Seq[String] = EnglishStopwords): Column = {
    val sw = array(stopwords.map(lit): _*)
    when(size(lt) > 0,
      size(filter(lt, x => array_contains(sw, x))).cast("double") / size(lt))
      .otherwise(0.0)
  }

  /** Heuristic quality score in [0,1]: rewards stopword presence and
    * mid-length tokens, penalizes punctuation/digit noise — a composed,
    * deterministic analogue of fastText-style quality filters. */
  def qualityScore(c: Column): Column =
    qualityScoreOfTokens(c, tokens(c), tokens(lower(c)))

  /** [[qualityScore]] with pre-tokenized columns (`t` = raw tokens,
    * `lt` = lowercase tokens); `raw` is still used for the regex-based
    * character-class ratios, which are codegen'd and cheap. */
  def qualityScoreOfTokens(raw: Column, t: Column, lt: Column): Column = {
    val lenScore = least(size(t).cast("double") / 100.0, lit(1.0))
    val swScore = least(stopwordRatioOfTokens(lt) * 5.0, lit(1.0))
    val noise = punctRatio(raw) + digitRatio(raw)
    greatest(lit(0.0), least(lit(1.0),
      lenScore * 0.4 + swScore * 0.4 + (lit(1.0) - least(noise * 5.0,
        lit(1.0))) * 0.2))
  }

  /** Per-language marker word lists for the n-gram/stopword language-ID
    * heuristic. Real function-word lists; scoring is hit-count per
    * language with lexicographic tiebreak. */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit"),
    "en" -> Seq("the", "a", "and", "of", "to", "is", "in", "that"),
    "es" -> Seq("el", "la", "de", "que", "y", "los", "es", "una"),
    "fr" -> Seq("le", "la", "et", "les", "des", "est", "une", "dans"),
    "zh" -> Seq("的", "是", "了", "在", "我", "有", "和", "不"))

  def langScore(c: Column, markers: Seq[String]): Column =
    langScoreOfTokens(tokens(lower(c)), markers)

  /** [[langScore]] over a materialized lowercase token column. */
  def langScoreOfTokens(lt: Column, markers: Seq[String]): Column = {
    val m = array(markers.map(lit): _*)
    size(filter(lt, x => array_contains(m, x)))
  }

  /** Predicted language = argmax marker hits, ties broken by language
    * code order; "und" (undetermined) when nothing matches. */
  def predictLang(c: Column): Column = {
    val scores = LangMarkers.map { case (lang, ms) => lang -> langScore(c, ms) }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    val pick = scores.foldRight(lit("und")) { case ((lang, sc), acc) =>
      when(sc === best && best > 0, lit(lang)).otherwise(acc)
    }
    // foldRight keeps the FIRST (lexicographically smallest) max: each
    // earlier when(...) shadows later ones.
    pick
  }

  /** Word n-gram shingles: contiguous n-token windows joined by spaces.
    *
    * NOTE: `c` is referenced from inside the transform lambda, so pass a
    * plain column/attribute, never a computed expression — a computed `c`
    * is re-evaluated once per shingle (quadratic per document). Use
    * [[shinglesOfTokens]] over a materialized token-array column when
    * composing in a DataFrame pipeline. */
  def shingles(c: Column, n: Int): Column = shinglesOfTokens(tokens(c), n)

  /** [[shingles]] over an already-tokenized array column. */
  def shinglesOfTokens(t: Column, n: Int): Column =
    when(size(t) >= n,
      transform(sequence(lit(0), size(t) - n),
        i => concat_ws(" ", slice(t, i + 1, lit(n)))))
      .otherwise(array().cast("array<string>"))

  /** Vocabulary coverage curve — for each candidate vocabulary size V,
    * the share of all corpus TOKENS covered by the top-V token TYPES
    * by frequency: the curve a tokenizer/vocab designer reads the
    * knee off (how big must the vocab be before <x>% of running text
    * is in-vocabulary). One tokenize+count pass reduces the corpus to
    * VOCABULARY grain; the frequency rank and cumulative token sum on
    * that rollup run through `Scale.rankedPrefixSum` — one
    * range-partitioned scan, NO single-partition global window (a
    * vocabulary is "small" until it's a web-scale shingle space; the
    * distributed form costs the same at this size and survives that
    * one). The V-grid joins against it rank-bounded. Ties rank
    * (count desc, token asc) so both engines agree. */
  def vocabCoverage(df: DataFrame, textCol: String,
      sizes: Seq[Int]): DataFrame = {
    require(sizes.nonEmpty && sizes.forall(_ >= 1),
      s"vocab sizes must be >= 1, got $sizes")
    val counts = df
      .select(explode(tokens(col(textCol))).as("__tok"))
      .groupBy(col("__tok")).agg(count(lit(1)).as("__n"))
    val cum = graft.plans.Scale.rankedPrefixSum(counts,
      Seq(desc("__n"), col("__tok")), "__n",
      rankCol = "__rk", sumCol = "__cum")
    val total = counts.agg(sum(col("__n")).as("__total"))
    val grid = df.sparkSession.createDataFrame(
      sizes.distinct.sorted.map(v => Tuple1(v)))
      .toDF("vocab_size")
    grid.join(cum, col("__rk") <= col("vocab_size"), "left")
      .groupBy(col("vocab_size"))
      .agg(max(col("__rk")).as("n_types"),
        max(col("__cum")).as("covered_tokens"))
      .crossJoin(broadcast(total)) // 1-row scalar
      .select(col("vocab_size"), col("n_types"),
        col("covered_tokens"), col("__total").as("total_tokens"),
        round(col("covered_tokens") * 100.0 / col("__total"), 6)
          .as("coverage_pct"))
      .orderBy(col("vocab_size"))
  }

  /** Exact duplicated-span removal — the substring-granular exact
    * dedup of "Deduplicating Training Data Makes Language Models
    * Better" (Lee et al. 2022), re-expressed relationally: instead of
    * a suffix array over the concatenated corpus, every k-token span
    * becomes a row, spans occurring in ≥ `minDocs` DISTINCT documents
    * are the duplicated set, and each document is rebuilt with every
    * token covered by a duplicated span deleted (document-level dedup
    * keeps one copy of a boilerplate paragraph per EXACT duplicate
    * doc; this removes it from every doc it was pasted into).
    *
    * Scale shape: span generation is columnar (one `transform` over
    * the token array — no per-span shuffle rows until the explode),
    * and the span STRING never leaves its row: what crosses the wire
    * is its 64-bit hash — a k-token span is ~k words of payload whose
    * only downstream use is equality, the textbook shuffle-a-proxy
    * case. ONE hash-keyed exchange serves the distinct-doc count, the
    * surviving (doc, offset) pairs shuffle back on the doc id, and the
    * rebuild is a projection over the token array with a bounded
    * `exists` per position (spans-per-doc is small once the frequent
    * set is rare, the regime dedup targets). Token arrays themselves
    * move through exactly one join. No all-pairs anywhere: cost is
    * Θ(total spans), the same bound the suffix-array formulation pays,
    * in exchange for exact k-grain instead of arbitrary-length
    * matches. Hash collisions (two distinct spans sharing an xxhash64
    * value could over-delete) are the same 2^-64-per-pair trade the
    * engine's feature hashing and MinHash banding already accept.
    *
    * Returns (idCol, n_tokens, n_removed, clean_text). */
  def spanDedup(df: DataFrame, textCol: String, idCol: String,
      k: Int = 8, minDocs: Int = 2): DataFrame = {
    require(k >= 2, s"span length k must be >= 2, got $k")
    require(minDocs >= 2, s"minDocs must be >= 2 (1 would delete " +
      s"every token), got $minDocs")
    val toks = df.select(col(idCol), tokens(col(textCol)).as("__t"))
    val occ = toks.select(col(idCol),
        posexplode(shinglesOfTokens(col("__t"), k)).as(Seq("__off", "__gram")))
      .select(col(idCol), col("__off"), xxhash64(col("__gram")).as("__g"))
    val freq = occ.groupBy(col("__g"))
      .agg(countDistinct(col(idCol)).as("__df"))
      .filter(col("__df") >= minDocs)
      .select(col("__g"))
    val starts = occ.join(freq, "__g")
      .groupBy(col(idCol)).agg(collect_set(col("__off")).as("__starts"))
    toks.join(starts, Seq(idCol), "left")
      .withColumn("__starts",
        coalesce(col("__starts"), array().cast("array<int>")))
      .withColumn("__kept",
        when(size(col("__t")) > 0, // sequence(0,-1) would DESCEND
          expr(s"filter(sequence(0, size(__t) - 1), " +
            s"i -> NOT exists(__starts, s -> i >= s AND i < s + $k))"))
          .otherwise(array().cast("array<int>")))
      .select(col(idCol),
        size(col("__t")).cast("long").as("n_tokens"),
        (size(col("__t")) - size(col("__kept"))).cast("long")
          .as("n_removed"),
        expr("array_join(transform(__kept, i -> element_at(__t, i + 1))" +
          ", ' ')").as("clean_text"))
  }

  /** Gopher-style composite quality gate with per-rule accounting —
    * the corpus-curation report a web-scale filter run actually ships:
    * not just who survived, but WHY each drop happened, per source,
    * so threshold tuning has a feedback signal. Five heuristic rules
    * (Rae et al. 2021 §A1.1 shapes, thresholds are caller-tuned to the
    * corpus): token count outside [minTokens, maxTokens], mean word
    * length outside [wordLenLo, wordLenHi], stopword ratio below
    * minStopword (the "natural language at all?" probe — intrinsically
    * English-centric, like the original), repeated-bigram ratio above
    * maxRepetition. Rule counts are NOT exclusive (a doc can trip
    * several); `n_dropped` counts docs tripping ≥ 1.
    *
    * One scan: tokenize once, every signal is a row-local codegen'd
    * expression, and the only exchange is the final |sources|-row
    * aggregate — at 100 TB this is a map stage plus a rollup. All
    * threshold compares are engine-exact (integer sums divided by
    * integer counts — IEEE division is deterministic — against shared
    * literals), so the same doc drops on any engine. */
  def compositeFilterReport(df: DataFrame, textCol: String, srcCol: String,
      minTokens: Long = 20L, maxTokens: Long = 90L,
      wordLenLo: Double = 4.2, wordLenHi: Double = 4.8,
      minStopword: Double = 0.01, maxRepetition: Double = 0.05): DataFrame = {
    val flagged = df
      .select(col(srcCol).as("source"),
        tokens(col(textCol)).as("__t"),
        tokens(lower(col(textCol))).as("__lt"))
      .select(col("source"),
        size(col("__t")).cast("long").as("__n"),
        coalesce(avgWordLenOfTokens(col("__t")), lit(0.0)).as("__awl"),
        stopwordRatioOfTokens(col("__lt")).as("__swr"),
        shinglesOfTokens(col("__t"), 2).as("__sh"))
      .withColumn("__rep",
        when(size(col("__sh")) > 0,
          lit(1.0) - size(array_distinct(col("__sh"))).cast("double") /
            size(col("__sh")))
          .otherwise(lit(0.0)))
      .withColumn("r_short", col("__n") < minTokens)
      .withColumn("r_long", col("__n") > maxTokens)
      .withColumn("r_word_len",
        col("__awl") < wordLenLo || col("__awl") > wordLenHi)
      .withColumn("r_stopword", col("__swr") < minStopword)
      .withColumn("r_repetition", col("__rep") > maxRepetition)
      .withColumn("__dropped", col("r_short") || col("r_long") ||
        col("r_word_len") || col("r_stopword") || col("r_repetition"))
    def n(c: String): Column = sum(when(col(c), 1L).otherwise(0L))
    flagged.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        n("r_short").as("n_too_short"),
        n("r_long").as("n_too_long"),
        n("r_word_len").as("n_word_len"),
        n("r_stopword").as("n_low_stopword"),
        n("r_repetition").as("n_repetitive"),
        n("__dropped").as("n_dropped"),
        sum(when(!col("__dropped"), col("__n")).otherwise(0L))
          .as("kept_tokens"))
  }

  /** Document fingerprint: bottom-k of the md5 shingle hashes (a min-k
    * sketch — the portable cousin of winnowing; md5 is stable across
    * engines and languages). */
  def fingerprint(c: Column, n: Int = 3, k: Int = 4): Column =
    slice(array_sort(transform(shingles(c, n), s => md5(s))), 1, k)

  /** 64-bit SimHash over whitespace tokens using xxhash64: per-bit
    * weighted vote, reassembled as a long. Pure expressions — the bit
    * loop unrolls into the generated code. */
  def simhash64(c: Column): Column = {
    val t = tokens(lower(c))
    val hashes = transform(t, x => xxhash64(x))
    val bits = (0 until 64).map { i =>
      val votes = aggregate(hashes, lit(0L),
        (acc, h) => acc + when(shiftright(h, i).bitwiseAND(1L) === 1L, 1L)
          .otherwise(-1L))
      when(votes > 0, shiftleft(lit(1L), i)).otherwise(0L)
    }
    bits.reduce(_.bitwiseOR(_))
  }

  /** Hamming distance between two simhash64 values (bit_count of XOR). */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  // ── Table-form (exploded) variants ─────────────────────────────────
  // The Column forms above are shuffle-free but ride Spark's interpreted
  // higher-order functions; the table forms below explode tokens and pay
  // one shuffle on the doc id, keeping everything else in codegen —
  // measured ~4× faster locally and the better shape whenever a
  // downstream join/group needs the exploded rows anyway.

  /** One row per word n-gram: (id, shingle). Duplicates retained (use
    * [[distinctShingleRows]] for per-doc set semantics). Row order
    * within a doc is NOT part of the contract — every consumer is a
    * distinct/aggregate/join.
    *
    * Built per-row: tokens materialized once per doc (attribute, so
    * the HOF lambda doesn't re-tokenize per shingle), shingle array
    * over that attribute, explode. An n-gram needs only its own doc's
    * neighbor tokens, so a window (`lead` over an id-partitioned sort)
    * would pay a full per-TOKEN exchange + sort for context the row
    * already holds — at corpus scale that shuffle is the whole cost. */
  def shingleRows(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    // n=1 needs no neighbor context at all: plain explode
    if (n == 1)
      return df.select(col(idCol).as("id"),
        explode(tokens(col(textCol))).as("shingle"))
    df.select(col(idCol).as("id"), tokens(col(textCol)).as("__toks"))
      .select(col("id"),
        explode(shinglesOfTokens(col("__toks"), n)).as("shingle"))
  }

  /** [[shingleRows]] with per-document SET semantics: one row per
    * distinct (id, shingle). Equivalent to `shingleRows(...).distinct()`
    * when `idCol` is unique per input row (the corpus contract) — but
    * the dedupe runs row-local (`array_distinct` before the explode)
    * instead of paying a full exchange of every shingle string just to
    * remove within-doc repeats. */
  def distinctShingleRows(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame =
    if (n == 1)
      df.select(col(idCol).as("id"),
        explode(array_distinct(tokens(col(textCol)))).as("shingle"))
    else
      df.select(col(idCol).as("id"), tokens(col(textCol)).as("__toks"))
        .select(col("id"),
          explode(array_distinct(shinglesOfTokens(col("__toks"), n)))
            .as("shingle"))

  /** Cross-document boilerplate mining: word n-grams that recur in at
    * least `minFrac` of a GROUP's documents (same site/source/template)
    * — headers, footers, nav text, license blurbs. The training-data
    * cleaning step that per-document dedup can't see: boilerplate is
    * never a near-duplicate DOCUMENT, it's a high-document-frequency
    * SPAN. Output is the mined phrase table (group, shingle, df); a
    * removal pass is then a broadcast anti-join of this table against
    * the shingle stream.
    *
    * Scale: one shuffle on (group, shingle) for the df count — shingle
    * space is bounded by vocabulary, not corpus; the per-group totals
    * side is ≤|groups| rows and broadcasts. No document ever compares
    * to another document. */
  def boilerplateShingles(df: DataFrame, idCol: String, textCol: String,
      groupCol: String, n: Int = 2, minFrac: Double = 0.2): DataFrame = {
    // set semantics (one vote per (doc, shingle)) computed row-local —
    // doc ids are unique, so no cross-row exchange is needed for it.
    // Corpus widened first (no-op at production scan parallelism): the
    // shingle build is the expensive stage over a one-partition local
    // scan (Scale.widen).
    val sh = distinctShingleRows(graft.plans.Scale.widen(df), idCol,
      textCol, n)
    val src = df.select(col(idCol).as("id"), col(groupCol))
    val totals = df.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_total"))
    // null-safe totals join: docs with a NULL group (unknown source)
    // still form a group and get mined
    val t = totals.withColumnRenamed(groupCol, "__g")
    sh.join(src, Seq("id"))
      .groupBy(col(groupCol), col("shingle"))
      .agg(count(lit(1)).as("n_docs"))
      .join(broadcast(t), col(groupCol) <=> col("__g")).drop("__g")
      .filter(col("n_docs") >= ceil(col("n_total") * minFrac))
      .withColumn("doc_frac", round(col("n_docs") / col("n_total"), 4))
  }

  /** One BPE merge step at corpus scale: the adjacent-symbol pair
    * counts that drive byte-pair-encoding vocabulary induction
    * (Sennrich et al., ACL'16 — the tokenizer-training inner loop).
    * Returns (pair, cnt): every adjacent character pair inside each
    * distinct word, weighted by the word's corpus frequency — the
    * argmax row IS the next merge.
    *
    * Scale shape: the expensive reduction is over the WORD VOCABULARY,
    * not the corpus — one explode+aggregate collapses the corpus to
    * (word, freq), character pairs expand each distinct word by
    * |word|−1 (bounded), and the pair aggregate is alphabet²-sized.
    * This is why corpus-scale BPE trainers operate on word-frequency
    * tables; subsequent merge iterations rewrite the (bounded) vocab
    * table only and never rescan the corpus. All pure column
    * expressions — `Column.substr` keeps the per-position slicing
    * inside codegen. */
  def bpePairCounts(df: DataFrame, textCol: String): DataFrame = {
    val words = df
      .select(explode(tokens(lower(col(textCol)))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("f"))
      .filter(length(col("w")) >= 2)
    words
      .select(col("f"), explode(
        transform(sequence(lit(1), length(col("w")) - 1),
          i => concat(col("w").substr(i, lit(1)), lit(" "),
            col("w").substr(i + 1, lit(1))))).as("pair"))
      .groupBy(col("pair")).agg(sum(col("f")).as("cnt"))
  }

  /** BPE training to a FIXPOINT of `nMerges` merges (Sennrich et al.,
    * ACL'16) — the full tokenizer-induction loop that
    * [[bpePairCounts]] is one step of. Returns the learned merge
    * sequence `(merge_no, left_sym, right_sym, cnt)`: at each step the
    * argmax adjacent-symbol pair (tie-break: max count, then
    * lexicographically smallest (left, right) — deterministic on any
    * engine) merges GREEDY LEFT-TO-RIGHT inside every vocabulary
    * word, exactly the reference BPE semantics (a run of k identical
    * overlapping matches merges at even offsets: "aaa" + (a,a) →
    * [aa, a], never [a, aa]).
    *
    * Scale shape: the corpus collapses ONCE to the word-frequency
    * vocabulary (one explode + aggregate — the only corpus-sized
    * work); every iteration then touches the BOUNDED vocab table
    * only: pair counts are an alphabet²-sized aggregate, the argmax
    * is a 1-row collect, and the merge rewrite is a pure codegen
    * fold (`functions.aggregate` with an (out, pending) accumulator —
    * the pending slot IS the greedy lookahead, no UDF). Each
    * iteration re-pins the vocab ([[graft.plans.Pin]]) so lineage
    * stays flat across merges. This is why corpus-scale BPE trainers
    * operate on word-frequency tables: 100 TB of text costs one
    * tokenize pass, the loop costs |vocab| per merge. */
  def bpeTrain(df: DataFrame, textCol: String,
      nMerges: Int): DataFrame = {
    require(nMerges >= 1, s"need nMerges >= 1, got $nMerges")
    val spark = df.sparkSession
    // (word, freq, symbol array) — single-char words carry no pairs
    // and can never merge; dropping them mirrors bpePairCounts
    var vocab = df
      .select(explode(tokens(lower(col(textCol)))).as("w"))
      .filter(length(col("w")) >= 2)
      .groupBy(col("w")).agg(count(lit(1)).as("f"))
      .withColumn("syms", transform(sequence(lit(1), length(col("w"))),
        i => col("w").substr(i, lit(1))))
      .transform(graft.plans.Pin(_).df)
    def st(out: Column, pend: Column): Column =
      struct(out.as("out"), pend.cast("string").as("pend"))
    val merges =
      scala.collection.mutable.ListBuffer.empty[(Int, String, String, Long)]
    var it = 1
    var dry = false
    while (it <= nMerges && !dry) {
      val top = vocab
        // fully-merged words carry no pairs — and sequence(1, 0)
        // DESCENDS, so they must not reach the pair explode at all
        .filter(size(col("syms")) >= 2)
        .select(col("f"), explode(
          transform(sequence(lit(1), size(col("syms")) - 1),
            i => struct(element_at(col("syms"), i).as("l"),
              element_at(col("syms"), (i + 1).cast("int")).as("r"))))
          .as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("f")).as("cnt"))
        .orderBy(desc("cnt"), col("l"), col("r"))
        .limit(1).collect() // 1-row argmax: the merge decision itself
      if (top.isEmpty) dry = true
      else {
        val (a, b, cnt) =
          (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((it, a, b, cnt))
        // old pins release via the ContextCleaner as the previous
        // frame goes unreferenced (Pin's localCheckpoint contract)
        vocab = vocab.withColumn("syms",
          aggregate(col("syms"),
            st(typedLit(Seq.empty[String]), lit(null)),
            (acc, x) =>
              when(acc.getField("pend").isNull,
                st(acc.getField("out"), x))
                .when(acc.getField("pend") === lit(a) && x === lit(b),
                  st(concat(acc.getField("out"), array(lit(a + b))),
                    lit(null)))
                .otherwise(st(concat(acc.getField("out"),
                  array(acc.getField("pend"))), x)),
            acc => when(acc.getField("pend").isNull, acc.getField("out"))
              .otherwise(concat(acc.getField("out"),
                array(acc.getField("pend"))))))
          .transform(graft.plans.Pin(_).df)
        it += 1
      }
    }
    import spark.implicits._
    merges.toSeq.toDF("merge_no", "left_sym", "right_sym", "cnt")
  }

  /** The hashing trick (feature hashing, Weinberger et al. '09): map
    * each token to one of `nBuckets` feature slots by keyed hash and
    * count per (doc, slot) — fixed-width sparse vectorization with NO
    * vocabulary table, no fit step, no driver state; the classic way
    * to featurize unbounded token spaces at corpus scale. Collisions
    * are the accepted trade (bounded by 1/nBuckets); the hash is the
    * portable md5 bridge so any engine assigns identical slots.
    * Output: (id, bucket, n) — one explode + one aggregate. */
  def hashFeatures(df: DataFrame, idCol: String, textCol: String,
      nBuckets: Int, salt: String): DataFrame = {
    require(nBuckets > 0, s"need nBuckets > 0, got $nBuckets")
    shingleRows(df, idCol, textCol, 1)
      .groupBy(col("id"),
        pmod(conv(substring(md5(concat(lit(salt), lit("|"),
          col("shingle"))), 1, 7), 16, 10).cast("long"),
          lit(nBuckets.toLong)).as("bucket"))
      .agg(count(lit(1)).as("n"))
  }

  /** [[simhash64]] as a table op: (id, sim) via exploded token hashes +
    * per-bit sum aggregates — all codegen, one shuffle on id.
    * `portableHash` switches the token hash to the 60-bit md5 bridge
    * ([[graft.dedup.Dedup.md5Hash64]]) so the whole sketch is
    * reproducible in ANSI SQL (60 vote bits instead of 64). */
  def simhashTable(df: DataFrame, idCol: String, textCol: String,
      portableHash: Boolean = false): DataFrame = {
    val nBits = if (portableHash) 60 else 64
    val hashed =
      if (portableHash) graft.dedup.Dedup.md5Hash64(col("tok"))
      else xxhash64(col("tok"))
    val toks = df.select(col(idCol).as("id"),
        explode(tokens(lower(col(textCol)))).as("tok"))
      .select(col("id"), hashed.as("h"))
    val votes = (0 until nBits).map { i =>
      sum(when(shiftright(col("h"), i).bitwiseAND(1L) === 1L, 1L)
        .otherwise(-1L)).as(s"v$i")
    }
    val agg = toks.groupBy(col("id")).agg(votes.head, votes.tail: _*)
    val bits = (0 until nBits).map(i =>
      when(col(s"v$i") > 0, shiftleft(lit(1L), i)).otherwise(0L))
    agg.select(col("id"), bits.reduce(_.bitwiseOR(_)).as("sim"))
  }
}
