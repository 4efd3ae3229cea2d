package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Document-level text analysis for training-data pipelines: language ID,
  * quality scoring, token counting, fingerprinting. (Engine extension beyond
  * the reference surface; the reference's text handling is
  * channel-tokenization only, `object_retrieval.py:64-89`.)
  *
  * Everything is column-expression relational — no UDFs — so the whole
  * feature computation stays inside whole-stage codegen and scales as one
  * scan + (for langid) one broadcast join + grouped aggregation.
  */
object TextAnalysis {

  /** Stopword-profile language ID: score each doc against per-language
    * lexicons (match-token ratio), keep the best (ties: lexicographic lang);
    * docs matching nothing get 'und'. The n-gram-profile generalization
    * swaps the lexicon for character-n-gram profiles — same plan shape. */
  def languageId(
      spark: SparkSession,
      docs: DataFrame, idCol: String, textCol: String,
      lexicon: Map[String, Seq[String]]): DataFrame = {
    import spark.implicits._
    val lex = lexicon.toSeq.flatMap { case (l, ws) => ws.map(w => (l, w)) }
      .toDF("cand_lang", "term")
    val toks = Lexical.tokens(docs, idCol, textCol)
    val totals = toks.groupBy(col("id")).agg(count(lit(1)).as("n_tok"))
    val best = toks.join(broadcast(lex), Seq("term"))
      .groupBy(col("id"), col("cand_lang")).agg(count(lit(1)).as("n_match"))
      .join(totals, Seq("id"))
      .withColumn("ratio", col("n_match").cast("double") / col("n_tok"))
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("id")).orderBy(col("ratio").desc, col("cand_lang"))))
      .filter(col("__rn") === 1)
      .select(col("id"), col("cand_lang"), col("ratio"))
    docs.select(col(idCol).as("id"))
      .join(best, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("cand_lang"), lit("und")).as("lang_pred"),
        coalesce(col("ratio"), lit(0.0)).as("conf"))
  }

  /** C4-style LINE-level cleanup (Raffel et al. 2020 §2.2, the public
    * rules): within each document keep only lines that end in terminal
    * punctuation (`. ! ? "`), carry at least `minLineWords` whitespace
    * words, and do not mention "javascript"; then gate the DOCUMENT on
    * having at least `minKeptLines` surviving lines and containing
    * neither `{` nor "lorem ipsum" anywhere. The complement of
    * [[qualityScore]] (document-level signals) and
    * [[graft.operators.Dedup.dedupParagraphs]] (cross-document line
    * dedup): this is the in-document boilerplate strip web-crawl
    * pipelines run first.
    *
    * Scale shape: ONE map-only projection — the line array never leaves
    * its document row (split + higher-order filter + rejoin, like the
    * span-excision apply step), no shuffle, no UDF. Returns
    * `(id, text_clean, n_lines, n_kept, keep_doc)`. */
  def c4Clean(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      minLineWords: Int = 3,
      minKeptLines: Int = 3): DataFrame = {
    require(minLineWords >= 1, s"minLineWords must be positive, got $minLineWords")
    docs
      .select(col(idCol).as("id"), col(textCol).as("__t"),
        split(col(textCol), "\n").as("__lines"))
      // terminal-punctuation check as a plain substring test (r18): on a
      // trimmed line `RLIKE '[.!?\"]$'` is exactly "last char in the set",
      // without running a regex per line. CRLF caveat (ADVICE r18): the
      // split is on '\n' and Spark `trim` strips SPACES only, so a line
      // ending "foo.\r" fails this test where Java's '$' (which matches
      // before a trailing \r) passed it — equal on \r-free corpora like
      // this one; a CRLF corpus needs split(text, '\r?\n') in BOTH
      // engines first
      .withColumn("__kept", expr(
        "filter(__lines, l -> substring(trim(l), -1, 1) IN ('.', '!', '?', '\"') AND " +
          s"size(regexp_extract_all(trim(l), '\\\\S+', 0)) >= $minLineWords AND " +
          "NOT contains(lower(l), 'javascript'))"))
      .select(col("id"),
        array_join(col("__kept"), "\n").as("text_clean"),
        size(col("__lines")).cast("long").as("n_lines"),
        size(col("__kept")).cast("long").as("n_kept"),
        // Pinned: a filter on keep_doc must not be rewritten below this
        // projection — pushdown would re-derive the full line-filter
        // pipeline inside the pushed condition, once per consumer
        // ([[graft.functions.Pinned]], r19)
        graft.functions.Pinned.pin(
          size(col("__kept")) >= minKeptLines &&
            !col("__t").contains("{") &&
            !lower(col("__t")).contains("lorem ipsum")).as("keep_doc"))
  }

  /** Gopher document-quality rules (Rae et al. 2021, Appendix A1.1 — the
    * public filter set): word count in [minWords, maxWords], mean word
    * length in [3, 10], symbol-to-word ratio (`#` or `...`) <= 0.1, at
    * most 90% of lines starting with a bullet, at most 30% ending in an
    * ellipsis, >= 80% of words containing an alphabetic character, and at
    * least two of the eight Gopher stop words (the/be/to/of/and/that/
    * have/with). The document-level companion of [[c4Clean]] (line level)
    * and [[repetition]] (the Gopher repetition rules).
    *
    * Scale shape: ONE map-only projection — words and lines stay arrays
    * inside their document row; every signal and the final gate are
    * scalar expressions on them. Returns the per-rule signals plus
    * `keep` so pipelines can threshold differently. */
  def gopherRules(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      minWords: Int = 50,
      maxWords: Int = 100000,
      carryText: Boolean = false): DataFrame = {
    val stops = Seq("the", "be", "to", "of", "and", "that", "have", "with")
    // r19: every signal is defined in ONE projection over the shared
    // token/line arrays (and `keep` in one more over the signals) instead
    // of a withColumn cascade. Stacked single-use projections collapse
    // pairwise, and each collapse inlines the array expression into the
    // consumer — the cascaded form ended up re-tokenizing the document
    // once per signal (q38's plan carried 26 copies of the upstream
    // text_clean expression). With all consumers in one list the arrays
    // are multi-referenced non-cheap aliases, which CollapseProject and
    // predicate pushdown both refuse to inline, so the document is
    // tokenized once per row — in batch AND streaming plans alike.
    docs
      .select(col(idCol).as("id"), col(textCol).as("__t"),
        expr(s"regexp_extract_all($textCol, '\\\\S+', 0)").as("__w"),
        split(col(textCol), "\n").as("__l"),
        expr(s"regexp_extract_all(lower($textCol), '\\\\w+', 0)").as("__tok"))
      .select(col("id"), col("__t"),
        size(col("__w")).cast("long").as("n_words"),
        when(size(col("__w")) > 0,
          expr("aggregate(__w, 0L, (a, w) -> a + length(w))").cast("double")
            / size(col("__w")).cast("long")).as("mean_word_len"),
        when(size(col("__w")) > 0,
          // literal replace, not regexp_replace: same non-overlapping
          // left-to-right substitution for a meta-free pattern, without
          // compiling and running a regex over the whole text (r18)
          ((length(col("__t")) - length(expr("replace(__t, '#', '')"))) +
            (length(col("__t")) - length(expr("replace(__t, '...', '')")))
              / lit(3)).cast("double") / size(col("__w")).cast("long"))
          .as("symbol_ratio"),
        // anchored single-char / literal-suffix line tests as plain string
        // ops (r18): identical on trimmed lines, no per-line regex
        expr("size(filter(__l, l -> substring(trim(l), 1, 1) IN ('-', '*')))")
          .cast("double").divide(size(col("__l"))).as("bullet_ratio"),
        expr("size(filter(__l, l -> endswith(trim(l), '...')))").cast("double")
          .divide(size(col("__l"))).as("ellipsis_ratio"),
        when(size(col("__w")) > 0,
          expr("size(filter(__w, w -> w RLIKE '[a-zA-Z]'))").cast("double")
            / size(col("__w")).cast("long")).as("alpha_ratio"),
        expr(s"size(filter(array(${stops.map("'" + _ + "'").mkString(",")}), " +
          "sw -> array_contains(__tok, sw)))").cast("long").as("n_stop_kinds"))
      .withColumn("keep",
        // Pinned: keeps a downstream filter(keep) from being inlined
        // below the signal/array projections (one re-tokenization per
        // gate conjunct otherwise — [[graft.functions.Pinned]], r19)
        graft.functions.Pinned.pin(
          col("n_words").between(minWords, maxWords) &&
            col("mean_word_len").between(3.0, 10.0) &&
            col("symbol_ratio") <= 0.1 &&
            col("bullet_ratio") <= 0.9 &&
            col("ellipsis_ratio") <= 0.3 &&
            col("alpha_ratio") >= 0.8 &&
            col("n_stop_kinds") >= 2))
      .select(Seq(col("id"), col("n_words"),
        round(col("mean_word_len"), 6).as("mean_word_len"),
        round(col("symbol_ratio"), 6).as("symbol_ratio"),
        round(col("bullet_ratio"), 6).as("bullet_ratio"),
        round(col("ellipsis_ratio"), 6).as("ellipsis_ratio"),
        round(col("alpha_ratio"), 6).as("alpha_ratio"),
        col("n_stop_kinds"), col("keep")) ++
        // carryText threads the gated text through for downstream stages
        // (a streaming pipeline cannot join it back without a
        // stream-stream join)
        (if (carryText) Seq(col("__t").as(textCol)) else Nil): _*)
  }

  /** Heuristic quality features + score: token count, mean word length,
    * stopword ratio, punctuation ratio; keep-flag for the usual
    * "well-formed prose" band. */
  def qualityScore(
      docs: DataFrame, idCol: String, textCol: String,
      stopwords: Seq[String]): DataFrame = {
    val toks = Lexical.tokens(docs, idCol, textCol)
    val stats = toks.groupBy(col("id")).agg(
      count(lit(1)).as("n_tokens"),
      sum(when(col("term").isin(stopwords: _*), 1L).otherwise(0L)).as("n_stop"))
    docs.select(col(idCol).as("id"),
        length(col(textCol)).as("n_chars"),
        length(regexp_replace(col(textCol), "[^a-z]", "")).as("alpha_chars"),
        length(regexp_replace(col(textCol), "[^.,!?;:]", "")).as("punct_chars"))
      .join(stats, Seq("id"))
      .withColumn("avg_word_len", col("alpha_chars").cast("double") / col("n_tokens"))
      .withColumn("stop_ratio", col("n_stop").cast("double") / col("n_tokens"))
      .withColumn("punct_ratio", col("punct_chars").cast("double") / col("n_chars"))
      .withColumn("score",
        lit(0.4) * col("stop_ratio") +
          lit(0.6) * (least(col("avg_word_len"), lit(10.0)) / lit(10.0)))
      .withColumn("keep",
        col("n_tokens").between(20, 1000) && col("stop_ratio") > 0)
      .select(col("id"), col("n_tokens"), col("avg_word_len"),
        col("stop_ratio"), col("punct_ratio"), col("score"), col("keep"))
  }

  /** Token counting three ways: whitespace fields, `\w+` words, and a
    * BPE-ish estimate (chars/4, the usual subword heuristic). */
  def tokenCounts(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("id"),
      size(split(col(textCol), " ")).cast("long").as("n_ws"),
      size(expr(s"regexp_extract_all(lower($textCol), '\\\\w+', 0)")).cast("long").as("n_words"),
      length(col(textCol)).cast("long").as("n_chars"),
      ceil(length(col(textCol)) / lit(4.0)).cast("long").as("est_bpe"))

  /** Shingle-sketch fingerprint: min and xor of the 60-bit hashes of the
    * doc's word n-gram shingles — an order-invariant content signature
    * (the relational stand-in for a rolling-hash winnow). */
  def fingerprint(docs: DataFrame, idCol: String, textCol: String, n: Int = 3): DataFrame =
    Dedup.shingles(docs, idCol, textCol, n)
      .select(col("id"), Dedup.hash60(col("s")).as("hv"))
      .groupBy(col("id"))
      .agg(min(col("hv")).as("fp_min"), expr("bit_xor(hv)").as("fp_xor"),
        count(lit(1)).as("n_shingles"))

  /** Benchmark-contamination check: corpus docs sharing >= `minHits`
    * distinct word `n`-gram shingles with any benchmark doc. The benchmark
    * side is tiny -> its hashed shingle set BROADCASTS and the corpus makes
    * one pass (shingle -> hash -> broadcast semi-join -> per-doc count);
    * the corpus is never shuffled except the final per-doc aggregate. The
    * standard train/eval-overlap hygiene gate, as one declarative plan. */
  def contamination(
      corpus: DataFrame, bench: DataFrame,
      idCol: String, textCol: String,
      n: Int = 5, minHits: Int = 1): DataFrame = {
    val benchShingles = Dedup.shingles(bench, idCol, textCol, n)
      .select(Dedup.hash60(col("s")).as("hv")).distinct()
    Dedup.shingles(corpus, idCol, textCol, n)
      .select(col("id"), Dedup.hash60(col("s")).as("hv"))
      .join(broadcast(benchShingles), Seq("hv"), "left_semi")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_overlap"))
      .filter(col("n_overlap") >= minHits)
  }

  /** Sliding token-WINDOW chunking — the front half of the
    * chunk -> embed -> pool loop (the pooling half is
    * `emb_doc_pooling` / [[graft.operators.Similarity.centroids]]):
    * split each document into `windowTokens`-token chunks starting every
    * `strideTokens` (overlapping when stride < window, the usual
    * embedding-context convention), last chunk short. Integer-only chunk
    * arithmetic, one projection + Generator — corpus-linear, no shuffle.
    * Chunk count for n tokens is `1 + max(0, ceil((n - window) /
    * stride))` (one chunk when n <= window), so every token is covered
    * and no fully-redundant trailing chunk is emitted. Returns
    * `(id, chunk_id, chunk_start, n_chunk_tokens, chunk_text)` —
    * 1-based starts, chunk_id 0-based; docs with zero tokens drop out. */
  def chunkWindows(
      docs: DataFrame, idCol: String, textCol: String,
      windowTokens: Int, strideTokens: Int): DataFrame = {
    require(windowTokens >= 1, s"window must be positive, got $windowTokens")
    require(strideTokens >= 1, s"stride must be positive, got $strideTokens")
    docs
      .select(col(idCol).as("id"),
        expr(s"regexp_extract_all(lower($textCol), '\\\\w+', 0)").as("__a"))
      .filter(size(col("__a")) >= 1)
      .select(col("id"), col("__a"),
        expr(s"case when size(__a) <= $windowTokens then 1 " +
          s"else 1 + ((size(__a) - $windowTokens + $strideTokens - 1) div $strideTokens) end")
          .as("__nc"))
      .select(col("id"),
        posexplode(expr(
          s"transform(sequence(0, cast(__nc - 1 as int)), " +
            s"j -> slice(__a, 1 + j * $strideTokens, $windowTokens))"))
          .as(Seq("chunk_id", "__c")))
      .select(col("id"), col("chunk_id").cast("long").as("chunk_id"),
        (col("chunk_id") * strideTokens + 1).cast("long").as("chunk_start"),
        size(col("__c")).cast("long").as("n_chunk_tokens"),
        array_join(col("__c"), " ").as("chunk_text"))
  }

  /** Corpus-NOVELTY signal — the cross-document complement of
    * [[repetition]]: per document, the fraction of its n-gram instances
    * whose corpus-wide FIRST occurrence (smallest `(id, position)` —
    * deterministic) lies in this document. A crawl snapshot's fresh pages
    * score high; mirrors, quote farms, and template pages score low —
    * a direct data-mixing/weighting signal for training corpora.
    *
    * Scale shape: a corpus-linear shingle pass carrying `(id, pos,
    * hash)`, a partial-agg min(struct) census per n-gram hash (map-side
    * combined — skew-immune), a hash-keyed equi-join marking each
    * instance first-or-not (AQE skew-join splits hot n-grams — a
    * window's rank would strand a boilerplate n-gram's millions of
    * instances in one unsplittable partition; see
    * [[graft.operators.Dedup.duplicateSpans]]), one per-doc aggregate.
    * Returns `(id, n_ngrams, n_novel, novelty)`; docs with < n tokens
    * have no n-grams and drop out. */
  def novelty(
      docs: DataFrame, idCol: String, textCol: String, n: Int = 3): DataFrame = {
    val sh = docs
      .select(col(idCol).as("id"),
        expr(s"regexp_extract_all(lower($textCol), '\\\\w+', 0)").as("__a"))
      .filter(size(col("__a")) >= n)
      .select(col("id"),
        posexplode(expr(
          s"transform(sequence(1, size(__a) - ${n - 1}), " +
            s"i -> array_join(slice(__a, i, $n), ' '))")).as(Seq("__p", "__s")))
      .select(col("id"), (col("__p") + 1).cast("long").as("st"),
        graft.operators.Dedup.hash60(col("__s")).as("__h"))
    // census + instance side: two consumers of the shingle pass (r18)
    val shS = graft.operators.Mat.stageIfExpensive(sh)
    val firsts = shS.groupBy(col("__h"))
      .agg(min(struct(col("id"), col("st"))).as("__first"))
    // the skew-splittable census join shape — see [[Dedup.censusJoin]]
    graft.operators.Dedup.censusJoin(shS, firsts)
      .withColumn("__novel",
        when(col("id") === col("__first").getField("id") &&
          col("st") === col("__first").getField("st"), 1L).otherwise(0L))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_ngrams"), sum(col("__novel")).as("n_novel"))
      .withColumn("novelty",
        round(col("n_novel").cast("double") / col("n_ngrams").cast("double"), 6))
  }

  /** Gopher-style repetition signals (the duplicate-text quality rules):
    * per-doc n-gram repetition — `top_frac` = share of the single most
    * frequent n-gram's occurrences, `dup_frac` = share of occurrences
    * belonging to any repeated n-gram. High values flag boilerplate /
    * keyword-stuffed / machine-looped text. Two nested aggregations, both
    * map-side combinable; ratios are long/long -> double, deterministic. */
  def repetition(
      docs: DataFrame, idCol: String, textCol: String, n: Int = 2): DataFrame =
    Lexical.ngrams(docs, idCol, textCol, n)
      .groupBy(col("id"), col("ngram")).agg(count(lit(1)).as("c"))
      .groupBy(col("id"))
      .agg(sum(col("c")).as("n_ngrams"),
        max(col("c")).as("top_c"),
        sum(when(col("c") > 1, col("c")).otherwise(lit(0L))).as("dup_c"))
      .select(col("id"), col("n_ngrams"),
        round(col("top_c").cast("double") / col("n_ngrams"), 6).as("top_frac"),
        round(col("dup_c").cast("double") / col("n_ngrams"), 6).as("dup_frac"))

  /** Language-model quality scoring (the CCNet-style perplexity gate,
    * relationally): fit an add-one-smoothed bigram model ON the corpus
    * itself — `P(w2|w1) = (C(w1 w2) + 1) / (C(w1) + V)` — and score each
    * doc by the mean log-probability of its bigrams. Low scores flag
    * gibberish/boilerplate; high scores flag natural (corpus-typical)
    * text. Output `(id, n_bigrams, lm_logprob)`; docs with < 2 tokens have
    * no bigrams and drop out.
    *
    * Scale shape: two count aggregates (bigram, unigram — both map-side
    * combined), a vocab-size scalar, then one join of bigram INSTANCES
    * against the count tables and a per-doc aggregate. The per-row log is
    * IEEE-deterministic; the per-doc mean goes through a decimal-exact sum
    * so partition order cannot move the result. */
  def lmQuality(
      docs: DataFrame, idCol: String, textCol: String): DataFrame =
    lmQualityFromPostings(
      Lexical.ngrams(docs, idCol, textCol, 2)
        .groupBy(col("id"), col("ngram")).agg(count(lit(1)).as("tf")),
      Lexical.tokens(docs, idCol, textCol)
        .groupBy(col("id"), col("term")).agg(count(lit(1)).as("utf")))

  /** [[lmQuality]] over precomputed per-doc bigram/unigram postings — the
    * artifact-fed form: corpus counts re-aggregate postings-sized data, so
    * when postings come from a materialized store (e.g. the
    * [[graft.streaming.IncrementalIndex.updatePostings]] sink) the raw
    * corpus is never re-tokenized. The convenience raw-docs form above
    * derives both relations in-plan; its count/instance/vocab branches
    * materialize independently (acceptable for a run-once batch gate —
    * hand in materialized postings when the corpus is large). */
  def lmQualityFromPostings(bgPost: DataFrame, uniPost: DataFrame): DataFrame = {
    // bgPost feeds the corpus counts AND the instance scoring join;
    // uniCounts feeds the scoring join AND the vocab scalar — stage the
    // computed forms once (r18); artifact-fed postings are parquet scans
    // the cost gate leaves un-staged
    // bg and uniCounts are independent: stage them CONCURRENTLY (r19)
    val Seq(bg, uniCounts) = Mat.stageAllIfExpensive(Seq(
      bgPost,
      uniPost.filter(col("utf") > 0)
        .groupBy(col("term")).agg(sum(col("utf")).as("c_uni"))))
    val bgCounts = bg.filter(col("tf") > 0)
      .groupBy(col("ngram")).agg(sum(col("tf")).as("c_bg"))
    val vocab = uniCounts.agg(count(lit(1)).as("v"))
    lmQualityFromModel(bg, bgCounts, uniCounts, vocab)
  }

  /** The fully-fitted form: score bigram instances against a PERSISTED LM
    * model — `bgCounts (ngram, c_bg)`, `uniCounts (term, c_uni)` and the
    * one-row `vocab (v)` are build-time artifacts (the relational analog of
    * CCNet's trained KenLM model file: train once on the corpus, apply per
    * shard forever). The scoring plan joins instance-sized data against the
    * count tables and aggregates per doc — zero corpus-level aggregation,
    * zero tokenize. [[lmQualityFromPostings]] derives the model in-plan and
    * delegates here. */
  def lmQualityFromModel(
      bgPost: DataFrame, bgCounts: DataFrame,
      uniCounts: DataFrame, vocab: DataFrame): DataFrame =
    bgPost
      .withColumn("__w1", split(col("ngram"), " ").getItem(0))
      .join(bgCounts.hint("shuffle_hash"), Seq("ngram"))
      .join(uniCounts.hint("shuffle_hash"), col("__w1") === col("term"))
      .crossJoin(broadcast(vocab))
      .withColumn("__lp",
        col("tf") * log((col("c_bg") + lit(1.0)) / (col("c_uni") + col("v"))))
      .groupBy(col("id"))
      .agg(sum(col("tf")).as("n_bigrams"),
        // decimal-exact sum, cast to double BEFORE dividing: decimal
        // division scale rules differ across engines, double/long doesn't
        (sum(col("__lp").cast("decimal(28,12)")).cast("double") / sum(col("tf")))
          .as("lm_logprob"))

  /** Per-document token-distribution (Shannon) entropy — the
    * within-document diversity signal the repetition ratios approximate
    * from the other side: `H = -Σ (c/n)·log2(c/n)` over the doc's term
    * frequencies. Near-zero entropy = a document that keeps saying the
    * same thing (boilerplate, keyword stuffing, generation loops); the
    * per-doc maximum is log2(n_distinct). One tokenize pass + a per-(doc,
    * term) count + a per-doc decimal-exact sum; every shuffle key is the
    * doc id or (doc, term). Output `(id, n_tokens, n_distinct, entropy)`
    * rounded to `roundTo`. */
  def tokenEntropy(
      docs: DataFrame, idCol: String, textCol: String,
      roundTo: Int = 6): DataFrame =
    docs
      .select(col(idCol).as("id"),
        explode(expr(s"regexp_extract_all(lower($textCol), '\\\\w+', 0)"))
          .as("term"))
      .groupBy(col("id"), col("term")).agg(count(lit(1)).as("c"))
      .withColumn("n", sum(col("c")).over(Window.partitionBy(col("id"))))
      .groupBy(col("id"))
      .agg(max(col("n")).as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        round(lit(-1.0) * sum(((col("c") / col("n")) *
          log2(col("c") / col("n"))).cast("decimal(28,12)")).cast("double"),
          roundTo).as("entropy"))

  /** Zipf profile — the term-frequency power-law summary a corpus data
    * card reports (natural text follows freq ∝ rank^s with s ≈ −1;
    * machine-generated or templated corpora bend the curve, so the fitted
    * slope is a cheap whole-corpus quality signal). One tokenize pass into
    * a vocab-sized count table; the slope is the least-squares fit of
    * ln(freq) on ln(rank) over the top-`topK` terms — the top-k cut is a
    * vocab-sized TakeOrdered (freq desc, term asc — deterministic ranks),
    * and the regression sums are decimal-exact over k rows. Output ONE
    * row: `(n_terms, n_tokens, zipf_slope)`. */
  def zipfProfile(
      docs: DataFrame, textCol: String, topK: Int = 100): DataFrame = {
    require(topK >= 2, s"topK must be >= 2 to fit a slope, got $topK")
    val tc = docs
      .select(explode(expr(s"regexp_extract_all(lower($textCol), '\\\\w+', 0)"))
        .as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("c"))
    val tot = tc.agg(count(lit(1)).as("n_terms"), sum(col("c")).as("n_tokens"))
    val w = Window.orderBy(col("c").desc, col("term").asc)
    val top = GroupShaping.topK(tc, topK, col("c"), col("term"))
      .withColumn("r", row_number().over(w))
      .select(log(col("r")).as("x"), log(col("c")).as("y"))
    def dsum(c: org.apache.spark.sql.Column) =
      sum(c.cast("decimal(28,12)")).cast("double")
    val s = top.agg(count(lit(1)).cast("double").as("k"),
      dsum(col("x")).as("sx"), dsum(col("y")).as("sy"),
      dsum(col("x") * col("y")).as("sxy"), dsum(col("x") * col("x")).as("sxx"))
    tot.crossJoin(broadcast(s))
      .select(col("n_terms"), col("n_tokens"),
        round((col("k") * col("sxy") - col("sx") * col("sy")) /
          (col("k") * col("sxx") - col("sx") * col("sx")), 6).as("zipf_slope"))
  }

  /** Fit a NAIVE-BAYES quality classifier — the fastText/logreg
    * "does this look like trusted reference text?" filter the GPT-3 and
    * CCNet pipelines run beside the heuristic gates ([[gopherRules]])
    * and the LM gate ([[lmQuality]]): a LABELED sample (label true =
    * trusted corpus) trains per-term log-likelihood ratios
    * `llr(t) = ln((tf⁺+1)/(N⁺+V)) − ln((tf⁻+1)/(N⁻+V))` (add-one
    * smoothing; V = shared vocabulary size), each rounded to `llrRound`
    * so the model artifact is engine-portable. One tokenize pass over
    * the labeled sample; the totals are a broadcast 1-row aggregate.
    * Persist the returned `(term, llr)` relation like any fitted index
    * (the [[graft.operators.Lexical.writeBpe]] discipline) — scoring
    * loads it, never refits. Vocabulary is corpus-bounded; at 100 TB
    * cap it like production fastText does (fit on a hash sample /
    * min-frequency floor) so the model stays broadcastable. */
  def nbQualityFit(
      docs: DataFrame, idCol: String, textCol: String, labelCol: String,
      llrRound: Int = 8): DataFrame = {
    val tok = docs.select(col(labelCol).cast("boolean").as("__pos"),
      explode(expr(s"regexp_extract_all(lower($textCol), '\\\\w+', 0)"))
        .as("term"))
    val counts = tok.groupBy(col("term"))
      .agg(sum(when(col("__pos"), 1L).otherwise(0L)).as("__tfp"),
        sum(when(col("__pos"), 0L).otherwise(1L)).as("__tfn"))
    val totals = broadcast(counts.agg(
      sum(col("__tfp")).as("__np"), sum(col("__tfn")).as("__nn"),
      count(lit(1)).as("__v")))
    counts.crossJoin(totals)
      .select(col("term"),
        round(log((col("__tfp") + 1) / (col("__np") + col("__v"))) -
          log((col("__tfn") + 1) / (col("__nn") + col("__v"))), llrRound)
          .as("llr"))
  }

  /** Persist a fitted [[nbQualityFit]] model — the classifier ARTIFACT,
    * under the same fit-once/load-don't-refit discipline as
    * [[graft.operators.Lexical.writeBpe]]: train on the trusted-corpus
    * freeze, then every scoring job (batch or the streaming admission
    * gate) loads the vocab-row table instead of refitting. */
  def writeNbQuality(
      spark: org.apache.spark.sql.SparkSession,
      docs: DataFrame, idCol: String, textCol: String, labelCol: String,
      dir: String): DataFrame = {
    graft.sources.Store.writeSingle(
      nbQualityFit(docs, idCol, textCol, labelCol), s"$dir/nb_model")
    loadNbQuality(spark, dir)
  }

  /** Load a persisted [[writeNbQuality]] model. */
  def loadNbQuality(
      spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/nb_model")

  /** Score every document under a fitted [[nbQualityFit]] model: the
    * per-doc MEAN llr of its tokens (out-of-vocabulary tokens contribute
    * 0 — the neutral prior — and still count in the denominator, so an
    * OOV-heavy doc scores near 0, not undefined). Broadcast model join +
    * one per-doc decimal-exact aggregate; a token-less doc gets a NULL
    * score (there is nothing to classify), mirroring [[zipfProfile]]'s
    * empty-corpus convention. Output `(id, n_tokens, nb_score)` rounded
    * to `scoreRound`; filter `nb_score >= threshold` downstream exactly
    * like the pipelines this mirrors. */
  def nbQualityScore(
      docs: DataFrame, model: DataFrame, idCol: String, textCol: String,
      scoreRound: Int = 6, carryCols: Seq[String] = Nil): DataFrame = {
    val carry = carryCols.map(col)
    val tok = docs.select(col(idCol).as("id"),
      explode(expr(s"regexp_extract_all(lower($textCol), '\\\\w+', 0)"))
        .as("term"))
    val sums = tok.join(broadcast(model), Seq("term"))
      .groupBy(col("id"))
      .agg(sum(col("llr").cast("decimal(28,12)")).cast("double").as("__s"))
    docs.select(col(idCol).as("id") +: carry :+
        size(expr(s"regexp_extract_all(lower($textCol), '\\\\w+', 0)"))
          .cast("long").as("n_tokens"): _*)
      .join(sums, Seq("id"), "left")
      .select(col("id") +: carry :+ col("n_tokens") :+
        when(col("n_tokens") > 0,
          round(coalesce(col("__s"), lit(0.0)) / col("n_tokens"), scoreRound))
          .as("nb_score"): _*)
  }

  /** [[nbQualityScore]] as a pure MAP-ONLY projection: the fitted model
    * collects to the driver (it is the vocab-row tokenizer-style
    * artifact, like [[graft.operators.Lexical.bpeSegment]]'s merge list)
    * and enters the plan as ONE map literal; each row's score is an
    * exact-decimal fold over its own token array — no explode, no model
    * join, no per-doc aggregate, NOTHING stateful. Identical output to
    * the join form (spec-pinned): the fold adds the same
    * `cast(llr AS DECIMAL)` terms the SQL sum adds, OOV terms contribute
    * exact 0, and decimal addition is order-invariant. This is the shape
    * a STREAMING admission gate needs (score before the state store —
    * [[graft.streaming.CurationStreaming]]) and the 100 TB serving
    * shape (model ships once per executor, the corpus never shuffles).
    *
    * `maxVocab` guards the driver (the [[graft.operators.Lexical.bpeFit]]
    * `maxLocalVocab` discipline — an unguarded collect of an unbounded
    * fit vocabulary would blow the driver/plan silently): the bound is
    * probed with `limit(maxVocab + 1)` (no full model count), and a
    * larger model falls back to the broadcast-join form
    * ([[nbQualityScore]] — identical output, spec-pinned). A STREAMING
    * input cannot take that fallback (its per-doc aggregate is a second
    * stateful op the gate's append-mode plan cannot hold), so an
    * over-budget model on a stream throws with the production fix —
    * prune the model (min-frequency floor / top-|V| by |llr|, the
    * fastText discipline) to a broadcastable size at fit time. */
  def nbQualityScoreMapOnly(
      docs: DataFrame, model: DataFrame, idCol: String, textCol: String,
      scoreRound: Int = 6, carryCols: Seq[String] = Nil,
      maxVocab: Int = 1000000): DataFrame = {
    require(maxVocab >= 1, s"maxVocab must be positive, got $maxVocab")
    // route on a persisted count, NOT limit(max+1).collect(): the
    // incremental CollectLimit executor re-runs the model pipeline's
    // final stage while scaling partitions up to a 1M-row limit — the
    // same measured pathology the canonicalIds fast path hit.
    // Persist only if the CALLER hasn't: unpersisting a frame the caller
    // persisted would silently drop their cache.
    val callerPersisted =
      model.storageLevel != org.apache.spark.storage.StorageLevel.NONE
    val m0 = if (callerPersisted) model else model.persist()
    val over = m0.count() > maxVocab
    if (over) {
      if (!callerPersisted) m0.unpersist()
      if (docs.isStreaming)
        throw new IllegalArgumentException(
          s"NB model exceeds maxVocab=$maxVocab terms and the broadcast-join " +
            "fallback is not available on a streaming input — prune the " +
            "fitted model (min-frequency floor or top-|V| by |llr|) to a " +
            "broadcastable size, or raise maxVocab deliberately")
      return nbQualityScore(docs, model, idCol, textCol, scoreRound, carryCols)
    }
    val head = m0.collect()
    if (!callerPersisted) m0.unpersist()
    val m = typedlit(head
      .map(r => r.getString(0) -> r.getDouble(1)).toMap)
    val carry = carryCols.map(col)
    docs
      .select(col(idCol).as("id") +: carry :+
        expr(s"regexp_extract_all(lower($textCol), '\\\\w+', 0)").as("__t"): _*)
      .select(col("id") +: carry :+
        size(col("__t")).cast("long").as("n_tokens") :+
        // the accumulator stays decimal(30,12) EXPLICITLY: letting the
        // addition's result type float up to the 38-precision cap makes
        // Spark rescale to (38,11) and the fold would round where the
        // SQL sum does not; (30,12)+(28,12) -> (31,12) fits, and the
        // cast back is scale-preserving (exact)
        aggregate(col("__t"),
          lit(java.math.BigDecimal.ZERO).cast("decimal(30,12)"),
          (acc, t) => (acc +
            coalesce(element_at(m, t), lit(0.0)).cast("decimal(28,12)"))
            .cast("decimal(30,12)"))
          .cast("double").as("__s"): _*)
      .select(col("id") +: carry :+ col("n_tokens") :+
        when(col("n_tokens") > 0,
          round(col("__s") / col("n_tokens"), scoreRound)).as("nb_score"): _*)
  }
}
