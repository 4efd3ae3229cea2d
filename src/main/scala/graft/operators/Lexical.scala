package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sparse lexical retrieval: the reference's TF-IDF channels and legacy BM25.
  *
  * The reference fits one sklearn `TfidfVectorizer` per text channel and
  * scores queries with CSR dot products (reference
  * `utils/object_retrieval_engine/object_retrieval.py:51-96,273-324`,
  * `ocr_retrieval.py:27-35`, `speech_retrieval.py:56-65`), plus a legacy
  * `rank_bm25.BM25Okapi` path (`bm25.py:45,112`). Here the "index" is a
  * postings DataFrame `(term, id, tf)` — the relational form of the CSR
  * matrix — and scoring is a broadcast join of the (tiny) query-term vector
  * against postings, aggregated per doc.
  *
  * Scale design: postings are partitioned by term, so df/idf is one
  * map-side-combinable groupBy; query scoring broadcasts the handful of
  * query terms and touches only matching postings (the sparse-dot property);
  * per-doc norms are a build-time column. Nothing in the query path scans
  * the corpus.
  */
object Lexical {

  /** C1 (reference `object_retrieval.py:208-215` `preprocess_text`):
    * lowercase, drop every char outside [a-z0-9A-Z_ + the Vietnamese accent
    * charset + whitespace], trim. Charset copied verbatim from the
    * reference's pattern (incl. its redundant uppercase entries — harmless
    * after lower()). */
  private val vietnameseKeep =
    "ÀÁÂÃÈÉÊÌÍÒÓÔÕÙÚĂĐĨŨƠàáâãèéêìíòóôõùúăđĩũơƯĂẠẢẤẦẨẪẬẮẰẲẴẶẸẺẼỀỀỂ" +
    "ưăạảấầẩẫậắằẳẵặẹẻẽềềểỄỆỈỊỌỎỐỒỔỖỘỚỜỞỠỢỤỦỨỪễếệỉịọỏốồổỗộớờởỡợụủứừ" +
    "ỬỮỰỲỴÝỶỸửữựỳỵỷỹ"

  def cleanText(c: Column): Column =
    trim(regexp_replace(lower(c), s"[^a-z0-9A-Z_$vietnameseKeep\\s]", ""))

  /** `\w+` word tokenization after lowercasing — the vectorizer's
    * `\b\w+\b` analyzer (reference `object_retrieval.py:64-73`). */
  def tokens(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    // fanOutNarrow: a one-file local corpus scans as ONE task; spread the
    // regex tokenization across the cores (no-op at scale — guide §2.5)
    Skew.fanOutNarrow(docs.select(col(idCol).as("id"), col(textCol)))
      .select(col("id"),
        explode(expr(s"regexp_extract_all(lower($textCol), '\\\\w+', 0)")).as("term"))

  /** Postings list `(id, term, tf)` — CSR matrix, relationally. */
  def postings(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    tokens(docs, idCol, textCol).groupBy(col("id"), col("term"))
      .agg(count(lit(1)).as("tf"))

  /** Per-term document frequency. */
  def docFreq(post: DataFrame): DataFrame =
    post.groupBy(col("term")).agg(count(lit(1)).as("df"))

  /** sklearn-style smoothed idf: `ln((1+N)/(1+df)) + 1`. */
  def smoothIdf(df: Column, n: Column): Column =
    log((n + lit(1.0)) / (df + lit(1))) + lit(1.0)

  /** 1-row corpus-size frame, broadcast into the plan (keeps the pipeline
    * fully lazy — no separate `count()` job per query). */
  private def corpusSize(docs: DataFrame): DataFrame =
    docs.agg(count(lit(1)).as("__n"))

  /** L2-normalized tf-idf vectors `(id, term, w)` — exactly sklearn's
    * `TfidfVectorizer(norm='l2', smooth_idf=True, sublinear_tf=False)`. */
  def tfidfVectors(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    tfidfVectorsFrom(postings(docs, idCol, textCol), corpusSize(docs))

  /** Same, from precomputed postings. The idf join uses a SHUFFLE-HASH
    * join, not a broadcast: `docFreq(post)` is derived from the same
    * postings aggregate as the left side, and with both in ONE plan
    * Catalyst's ReuseExchange serves the second occurrence from the first's
    * shuffle files — the corpus is scanned and tokenized ONCE. A broadcast
    * of docFreq would materialize in a separate job that re-runs the whole
    * postings pipeline (scan+tokenize+aggregate) a second time — at 100 TB
    * that is a second pass over the corpus. */
  private def tfidfVectorsFrom(post: DataFrame, nDf: DataFrame): DataFrame = {
    // the tf > 0 guard is vacuous (counts are >= 1) but it makes this
    // branch CONSUME the tf column: without it the optimizer prunes tf
    // from the df-side aggregate, the two postings exchanges stop being
    // canonically equal, and the reuse below never fires
    val dfreq = post.filter(col("tf") > 0)
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    val withIdf = post
      .join(dfreq.hint("shuffle_hash"), Seq("term"))
      .crossJoin(broadcast(nDf))
      .withColumn("w", col("tf") * smoothIdf(col("df"), col("__n")))
    val byDoc = Window.partitionBy(col("id"))
    withIdf
      .withColumn("w", col("w") / sqrt(sum(col("w") * col("w")).over(byDoc)))
      .select(col("id"), col("term"), col("w"))
  }

  /** Driver-side query vectorization, shared by every single-channel
    * tf-idf search form (raw, n-gram, fitted-index): one tiny term-pruned
    * read of (df, N) for the query terms, sklearn query idf
    * `qtf * (ln((N+1)/(df+1)) + 1)` and the L2 query norm computed in
    * plain Scala — the corpus-side plan sees only a broadcast literal. */
  private def queryVector(
      spark: SparkSession, docFreqRel: DataFrame, nRel: DataFrame,
      queryTerms: Seq[String]): (DataFrame, Double) = {
    import spark.implicits._
    val counts = queryTerms.groupBy(identity).map { case (t, xs) => (t, xs.size.toLong) }
    val qdf = docFreqRel
      .filter(col("term").isin(queryTerms.distinct: _*))
      .crossJoin(broadcast(nRel))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val qw = qdf.map { case (t, df, n) =>
      (t, counts(t) * (math.log((n + 1.0) / (df + 1)) + 1.0))
    }.toSeq
    val qnorm = math.sqrt(qw.map { case (_, w) => w * w }.sum)
    (qw.toDF("term", "qw"), qnorm)
  }

  /** Cosine scores of a literal query against the corpus: transform the query
    * with the corpus idf (terms outside the vocabulary drop out, as in
    * sklearn), normalize, sparse-dot against the doc vectors
    * (`object_retrieval.py:273-324`).
    *
    * Query vectorization is DRIVER-SIDE, like the reference's (the serving
    * thread transforms the query with the fitted vectorizer,
    * `object_retrieval.py:273-284`): one tiny aggregation collects (df, N)
    * for the handful of query terms, the weights and norm are computed in
    * plain Scala, and the corpus-side plan sees only a broadcast literal —
    * no per-query re-materialization of the index for the query vector. */
  def tfidfSearch(
      spark: SparkSession,
      docs: DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String]): DataFrame = {
    val post = postings(docs, idCol, textCol)
    val (q, qnorm) = queryVector(spark, docFreq(post), corpusSize(docs), queryTerms)
    tfidfVectorsFrom(post, corpusSize(docs))
      .join(broadcast(q), Seq("term"))
      .groupBy(col("id"))
      .agg(sum(col("w") * col("qw") / lit(qnorm)).as("score"))
  }

  /** Multi-channel TF-IDF search: every channel's postings live in ONE
    * relation keyed by `(ch, term)`, so N channels cost the stage count of
    * one (one tokenize+postings shuffle, one docFreq, one norm window, one
    * score aggregation — all keyed by channel). This is the scale shape of
    * the reference's per-channel CSR matrices (`faiss_processing.py:234-277`
    * scores several sparse channels per /panel request): a single partitioned
    * postings table serves every channel, instead of one index pipeline per
    * channel. Returns `(ch, id, score)`; channels with disjoint doc sets are
    * fine (per-channel N comes from a per-channel count). */
  def tfidfSearchMulti(
      spark: SparkSession,
      channels: Seq[(String, DataFrame, String, String, Seq[String])]): DataFrame = {
    import spark.implicits._
    val tagged = channels.map { case (ch, docs, idCol, textCol, _) =>
      docs.select(lit(ch).as("ch"), col(idCol).as("id"), col(textCol).as("__txt"))
    }.reduce(_ unionByName _)
    val post = tagged
      .select(col("ch"), col("id"),
        explode(expr("regexp_extract_all(lower(__txt), '\\\\w+', 0)")).as("term"))
      .groupBy(col("ch"), col("id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    // tf > 0 guard: keeps this branch consuming tf so the postings
    // exchange stays canonically equal to the doc side and is REUSED
    // (see tfidfVectorsFrom) — one tokenize pass for all channels
    val dfreq = post.filter(col("tf") > 0)
      .groupBy(col("ch"), col("term")).agg(count(lit(1)).as("df"))
    // driver-side query vectorization (one tiny collect), as in the
    // single-channel path
    val allTerms = channels.flatMap(_._5).distinct
    val qdf = dfreq.filter(col("term").isin(allTerms: _*))
      .join(broadcast(tagged.groupBy(col("ch")).agg(count(lit(1)).as("__n"))), Seq("ch"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    val qw = channels.flatMap { case (ch, _, _, _, terms) =>
      terms.groupBy(identity).toSeq.flatMap { case (t, xs) =>
        qdf.get((ch, t)).map { case (df, n) =>
          (ch, t, xs.size * (math.log((n + 1.0) / (df + 1)) + 1.0))
        }
      }
    }
    val qnorm = qw.groupBy(_._1).map { case (ch, ws) =>
      ch -> math.sqrt(ws.map { case (_, _, w) => w * w }.sum)
    }
    val q = qw.map { case (ch, t, w) => (ch, t, w, qnorm(ch)) }
      .toDF("ch", "term", "qw", "qnorm")
    val byDoc = Window.partitionBy(col("ch"), col("id"))
    post
      .join(dfreq.hint("shuffle_hash"), Seq("ch", "term"))
      .join(broadcast(tagged.groupBy(col("ch")).agg(count(lit(1)).as("__n"))), Seq("ch"))
      .withColumn("w", col("tf") * smoothIdf(col("df"), col("__n")))
      .withColumn("w", col("w") / sqrt(sum(col("w") * col("w")).over(byDoc)))
      .join(broadcast(q), Seq("ch", "term"))
      .groupBy(col("ch"), col("id"))
      .agg(sum(col("w") * col("qw") / col("qnorm")).as("score"))
  }

  /** `rank_bm25.BM25Okapi.get_scores` (reference `bm25.py:45,112`):
    * idf = ln((N-df+0.5)/(df+0.5)), negative idfs floored to
    * `eps * mean(idf)` over the vocabulary; score sums
    * `idf * tf*(k1+1) / (tf + k1*(1-b+b*dl/avgdl))` over query terms. */
  def bm25Search(
      spark: SparkSession,
      docs: DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String],
      k1: Double = 1.5, b: Double = 0.75, eps: Double = 0.25): DataFrame = {
    import spark.implicits._
    val post = postings(docs, idCol, textCol)
    // dl = token count = sum of term frequencies: derived from postings so
    // the corpus is tokenized once, not twice. Every branch below retains
    // tf and joins shuffle-hash, so the postings (and docLen) exchanges
    // are canonically equal across branches and ReusedExchange serves all
    // of them from one tokenize pass (see tfidfVectorsFrom).
    val docLen = post.groupBy(col("id")).agg(sum(col("tf")).as("dl"))
    val avgdl = docLen.agg((sum(col("dl")) / count(lit(1))).as("avgdl"))
    val idfRaw = post.filter(col("tf") > 0)
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(corpusSize(docs)))
      .withColumn("idf_raw",
        log((col("__n") - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
      .select(col("term"), col("df"), col("idf_raw"))
    val avgIdf = idfRaw.agg(avg(col("idf_raw")).as("avg_idf"))
    val idf = idfRaw.crossJoin(broadcast(avgIdf))
      .withColumn("idf",
        when(col("idf_raw") < 0, lit(eps) * col("avg_idf")).otherwise(col("idf_raw")))
      .select(col("term"), col("idf"))
    val q = queryTerms.distinct.toDF("term")
    post
      .join(broadcast(q), Seq("term"))
      .join(idf.hint("shuffle_hash"), Seq("term"))
      .join(docLen.hint("shuffle_hash"), Seq("id"))
      .crossJoin(broadcast(avgdl))
      .withColumn("contrib",
        col("idf") * (col("tf") * lit(k1 + 1)) /
          (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / col("avgdl"))))
      .groupBy(col("id"))
      .agg(sum(col("contrib")).as("score"))
  }

  /** sklearn `analyzer='char_wb'` character n-grams — the reference's
    * fallback analyzer when a channel's word vocabulary is empty
    * (`object_retrieval.py:75-89`, char_wb(3,5)). Faithful to sklearn's
    * `_char_wb_ngrams`: whitespace-collapsed, each word padded to
    * `" w "`, n-grams slide per n in [minN, maxN]; a word shorter than n
    * contributes the whole padded word once and stops growing n. Pure
    * column HOFs — no UDF. */
  def charWbNgrams(c: Column, minN: Int, maxN: Int): Column = {
    val words = filter(
      split(trim(regexp_replace(c, "\\s+", " ")), " "),
      w => length(w) > 0)
    flatten(transform(words, w => {
      val p = concat(lit(" "), w, lit(" "))
      val pLen = length(p)
      flatten(transform(
        sequence(lit(minN), least(lit(maxN), greatest(pLen, lit(minN)))),
        n => transform(
          sequence(lit(1), greatest(pLen - n + lit(1), lit(1))),
          o => p.substr(o, n))))
    }))
  }

  /** Documents re-expressed as their (minN..maxN)-gram "terms" — the
    * vocabulary shape of the OCR/speech channels (reference
    * `ocr_retrieval.py:27-35`, ngram_range=(1,3)): each n contributes its
    * sliding n-grams as distinct terms of one relation, so the SAME
    * tf-idf/BM25 machinery scores multi-word phrases. */
  def ngramDocs(
      docs: DataFrame, idCol: String, textCol: String,
      minN: Int, maxN: Int): DataFrame = {
    // ONE tokenize pass emits every n in [minN, maxN]: a union of per-n
    // subqueries would scan and regex the corpus (maxN - minN + 1) times
    val toks = expr(s"regexp_extract_all(lower($textCol), '\\\\w+', 0)")
    docs.select(col(idCol).as("id"), toks.as("__toks"))
      .select(col("id"), explode(flatten(transform(
        sequence(lit(minN), lit(maxN)),
        n => when(size(col("__toks")) >= n,
          transform(sequence(lit(1), size(col("__toks")) - n + lit(1)),
            i => array_join(slice(col("__toks"), i, n), " ")))
          .otherwise(array().cast("array<string>"))))).as("term"))
  }

  /** tf-idf search over an (minN..maxN)-gram vocabulary: [[ngramDocs]]
    * postings + the standard smoothed-idf/L2 scoring. Query phrases are
    * matched as whole n-gram terms, like the reference's vectorizer. */
  def tfidfSearchNgrams(
      spark: SparkSession,
      docs: DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String], minN: Int = 1, maxN: Int = 3): DataFrame = {
    val post = ngramDocs(docs, idCol, textCol, minN, maxN)
      .groupBy(col("id"), col("term")).agg(count(lit(1)).as("tf"))
    val (q, qnorm) = queryVector(spark, docFreq(post), corpusSize(docs), queryTerms)
    tfidfVectorsFrom(post, corpusSize(docs))
      .join(broadcast(q), Seq("term"))
      .groupBy(col("id"))
      .agg(sum(col("w") * col("qw") / lit(qnorm)).as("score"))
  }

  // ---- fitted-index artifacts (the load-don't-refit query path) ----------

  /** The fitted sparse index — the engine's analog of the reference's
    * pickled `TfidfVectorizer` + CSR matrix artifacts
    * (`object_retrieval.py:114-145` loads `tfidf_transform_*.pkl` and
    * `sparse_context_matrix_*.npz` at startup; nothing re-fits per query).
    *
    *  - `vectors  (id, term, w)`  — L2-normalized tf-idf weights (the CSR)
    *  - `postings (id, term, tf)` — raw counts (BM25 scores from these)
    *  - `docFreq  (term, df)`     — the fitted vocabulary + df (the `idf_`)
    *  - `docLen   (id, dl)`       — BM25 document lengths
    *  - `stats` (one row: `n, avgdl, avg_idf`) — corpus-level constants
    *
    * Query-time cost is O(query terms), never O(corpus): term-keyed tables
    * are written term-clustered so a query-term `IN` filter prunes parquet
    * row groups, query vectorization reads a handful of `docFreq` rows, and
    * scoring joins the broadcast query vector against only the matching
    * `vectors`/`postings` rows. */
  case class SparseIndex(
      vectors: DataFrame,
      postings: DataFrame,
      docFreq: DataFrame,
      docLen: DataFrame,
      stats: DataFrame)

  /** Multi-channel fitted index: everything keyed by `(ch, term)`, one
    * relation per artifact for ALL channels (the scale shape of the
    * reference's per-channel CSR matrices, `faiss_processing.py:234-277`). */
  case class MultiSparseIndex(
      vectors: DataFrame,
      docFreq: DataFrame,
      stats: DataFrame)

  private def saveClustered(df: DataFrame, path: String, keys: Seq[String], buckets: Int): Unit =
    graft.sources.Store.writer(df.repartition(buckets, keys.map(col): _*)
        .sortWithinPartitions(keys.map(col): _*))
      .option("compression", "zstd")
      .parquet(path)

  /** Fit + persist the index (one corpus tokenize, ever). */
  def writeIndex(
      spark: SparkSession, docs: DataFrame, idCol: String, textCol: String,
      dir: String, buckets: Int = 32): SparseIndex =
    writeIndexFromPostings(spark, postings(docs, idCol, textCol), docs.count(), dir, buckets)

  /** Same, over an n-gram vocabulary (the OCR/speech channel shape). */
  def writeIndexNgrams(
      spark: SparkSession, docs: DataFrame, idCol: String, textCol: String,
      minN: Int, maxN: Int, dir: String, buckets: Int = 32): SparseIndex =
    writeIndexFromPostings(spark,
      ngramDocs(docs, idCol, textCol, minN, maxN)
        .groupBy(col("id"), col("term")).agg(count(lit(1)).as("tf")),
      docs.count(), dir, buckets)

  /** The one artifact-derivation pipeline, shared by the path-based and
    * bucketed-table index writers (scoring-critical math — smoothed idf,
    * BM25 idf_raw/avg_idf/avgdl, L2 norms — must exist exactly once):
    * persist postings, then derive every other artifact from the
    * MATERIALIZED postings — the raw corpus is scanned exactly once, by
    * the first save. */
  private def deriveArtifacts(
      nDocs: Long,
      save: (String, DataFrame, Seq[String]) => Unit,
      load: String => DataFrame,
      writeStats: DataFrame => Unit,
      post: DataFrame): Unit = {
    save("postings", post, Seq("term"))
    val p = load("postings")
    save("docFreq", p.groupBy(col("term")).agg(count(lit(1)).as("df")), Seq("term"))
    save("docLen", p.groupBy(col("id")).agg(sum(col("tf")).as("dl")), Seq("id"))
    val dfreq = load("docFreq")
    val dl = load("docLen")
    val n = lit(nDocs)
    writeStats(
      dfreq
        .select(log((n - col("df") + lit(0.5)) / (col("df") + lit(0.5))).as("idf_raw"))
        .agg(exactMean(col("idf_raw")).as("avg_idf"))
        .crossJoin(dl.agg((sum(col("dl")) / count(lit(1))).as("avgdl")))
        .select(n.as("n"), col("avgdl"), col("avg_idf")))
    val byDoc = Window.partitionBy(col("id"))
    save("vectors",
      p.join(dfreq, Seq("term")) // co-located when save buckets by term
        .withColumn("w", col("tf") * smoothIdf(col("df"), n))
        .withColumn("w", col("w") / l2Norm(col("w"), byDoc))
        .select(col("id"), col("term"), col("w")),
      Seq("term"))
  }

  /** The per-document L2 norm of the weights `w` over `byDoc`, summed as
    * exact DECIMAL(28,12) squares (every `w` here is tf x a smoothed idf,
    * >= 1, so 12 decimals keep 12+ significant digits): a double sum
    * would depend on the order the window sees a document's terms, which
    * changes with the input's partitioning and the shuffle, and the
    * written `w` would change in its last bits between builds. */
  private def l2Norm(w: Column, byDoc: org.apache.spark.sql.expressions.WindowSpec): Column =
    sqrt(sum((w * w).cast("decimal(28,12)")).over(byDoc).cast("double"))

  /** `avg(x)` as an exact DECIMAL(28,12) sum over the non-null count: the
    * same value in any summation order. */
  private def exactMean(x: Column): Column =
    sum(x.cast("decimal(28,12)")).cast("double") / count(x)

  /** Fit + persist from a postings relation — the bridge from
    * [[graft.streaming.IncrementalIndex.updatePostings]]'s maintained sink
    * into the scoring path: every artifact derives from postings alone, so
    * an index refresh after incremental maintenance re-aggregates
    * postings-sized data and never re-tokenizes raw text. `nDocs` is the
    * corpus size (sklearn's N counts docs with no in-vocabulary terms too,
    * so it cannot be inferred from postings). */
  def writeIndexFromPostings(
      spark: SparkSession, post: DataFrame, nDocs: Long,
      dir: String, buckets: Int = 32): SparseIndex = {
    deriveArtifacts(nDocs,
      (name, df, keys) => saveClustered(df, s"$dir/$name", keys, buckets),
      name => spark.read.parquet(s"$dir/$name"),
      st => graft.sources.Store.writer(st.coalesce(1)).parquet(s"$dir/stats"),
      post)
    readIndex(spark, dir)
  }

  def readIndex(spark: SparkSession, dir: String): SparseIndex =
    SparseIndex(
      vectors = spark.read.parquet(s"$dir/vectors"),
      postings = spark.read.parquet(s"$dir/postings"),
      docFreq = spark.read.parquet(s"$dir/docFreq"),
      docLen = spark.read.parquet(s"$dir/docLen"),
      stats = spark.read.parquet(s"$dir/stats"))

  /** [[writeIndex]] as [[graft.sources.Store]]-managed BUCKETED tables:
    * term-keyed artifacts bucketed+sorted by `term`, `docLen` by `id`.
    * Beyond the path-based form's row-group pruning this buys (a)
    * bucket pruning — a query-term `IN` filter reads only the matching
    * buckets (`SelectedBucketsCount` in the scan) — and (b) exchange-free
    * co-bucketed equi-joins between artifacts (postings x docFreq at
    * refresh time, postings x docLen in BM25): at 100 TB the index
    * (re)build joins never shuffle the postings. */
  def writeIndexTables(
      spark: SparkSession, docs: DataFrame, idCol: String, textCol: String,
      prefix: String, buckets: Int = 32): SparseIndex = {
    import graft.sources.Store
    def table(name: String) = s"${prefix}_${name.toLowerCase}"
    deriveArtifacts(docs.count(),
      (name, df, keys) => Store.writeBucketed(df, table(name), buckets, keys.head),
      name => spark.table(table(name)),
      Store.writer(_).format("parquet").saveAsTable(table("stats")),
      postings(docs, idCol, textCol))
    readIndexTables(spark, prefix)
  }

  def readIndexTables(spark: SparkSession, prefix: String): SparseIndex =
    SparseIndex(
      vectors = spark.table(s"${prefix}_vectors"),
      postings = spark.table(s"${prefix}_postings"),
      docFreq = spark.table(s"${prefix}_docfreq"),
      docLen = spark.table(s"${prefix}_doclen"),
      stats = spark.table(s"${prefix}_stats"))

  /** tf-idf search against the FITTED index: query vectorization reads the
    * (term-pruned) `docFreq` artifact — a few rows, not a corpus scan — and
    * scoring touches only the query terms' `vectors` rows. This is the
    * production form of [[tfidfSearch]]; at 100 TB the corpus is never
    * scanned at query time. */
  def tfidfSearchIndexed(
      spark: SparkSession, index: SparseIndex, queryTerms: Seq[String]): DataFrame = {
    val (q, qnorm) = queryVector(spark, index.docFreq,
      index.stats.select(col("n")), queryTerms)
    index.vectors
      .filter(col("term").isin(queryTerms.distinct: _*))
      .join(broadcast(q), Seq("term"))
      .groupBy(col("id"))
      .agg(sum(col("w") * col("qw") / lit(qnorm)).as("score"))
  }

  /** BM25 against the fitted index: per-term idf from the `docFreq`
    * artifact, `n`/`avgdl`/`avg_idf` (the eps floor's vocabulary mean) from
    * the one-row `stats` artifact — fully lazy, no collect, no corpus
    * tokenize. */
  def bm25SearchIndexed(
      spark: SparkSession, index: SparseIndex, queryTerms: Seq[String],
      k1: Double = 1.5, b: Double = 0.75, eps: Double = 0.25): DataFrame = {
    val qt = queryTerms.distinct
    val qidf = index.docFreq
      .filter(col("term").isin(qt: _*))
      .crossJoin(broadcast(index.stats))
      .withColumn("idf_raw",
        log((col("n") - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
      .select(col("term"),
        when(col("idf_raw") < 0, lit(eps) * col("avg_idf")).otherwise(col("idf_raw")).as("idf"),
        col("avgdl"))
    index.postings
      .filter(col("term").isin(qt: _*))
      .join(broadcast(qidf), Seq("term"))
      .join(index.docLen, Seq("id"))
      .withColumn("contrib",
        col("idf") * (col("tf") * lit(k1 + 1)) /
          (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / col("avgdl"))))
      .groupBy(col("id"))
      .agg(sum(col("contrib")).as("score"))
  }

  /** Fit + persist the multi-channel index: ONE tokenize pass over the
    * union of channels, artifacts keyed by `(ch, term)`. */
  def writeMultiIndex(
      spark: SparkSession,
      channels: Seq[(String, DataFrame, String, String)],
      dir: String, buckets: Int = 32): MultiSparseIndex =
    JobPhases(spark, "writeMultiIndex") { phase =>
      import graft.sources.Store
      // each artifact is read back once, with the schema it was written
      // with, through Store.read: no listing or footer job per read
      def readBack(sub: String, written: DataFrame): DataFrame =
        Store.read(spark, s"$dir/$sub", Some(written.schema))
      val tagged = channels.map { case (ch, docs, idCol, textCol) =>
        docs.select(lit(ch).as("ch"), col(idCol).as("id"), col(textCol).as("__txt"))
      }.reduce(_ unionByName _)
      phase("tokenize + postings write")
      val post = tagged
        .select(col("ch"), col("id"),
          explode(expr("regexp_extract_all(lower(__txt), '\\\\w+', 0)")).as("term"))
        .groupBy(col("ch"), col("id"), col("term"))
        .agg(count(lit(1)).as("tf"))
      saveClustered(post, s"$dir/postings", Seq("ch", "term"), buckets)
      val p = readBack("postings", post)
      phase("docFreq write")
      val df = p.groupBy(col("ch"), col("term")).agg(count(lit(1)).as("df"))
      saveClustered(df, s"$dir/docFreq", Seq("ch", "term"), buckets)
      // read once: the derivation below and the returned index share frames
      val dfreq = readBack("docFreq", df)
      phase("vectors write")
      // one row per channel, collected once: its corpus size rides into
      // the vectors plan as a literal map (a broadcast join of the 1-row
      // table built a hashed relation of a whole memory page, 16 MB at
      // -Xmx2g and local[4]), and the same rows are the `stats` artifact
      val n = tagged.groupBy(col("ch")).agg(count(lit(1)).as("n"))
      val perCh = n.collect()
      val nByCh = perCh.map(r => r.getString(0) -> r.getLong(1)).toMap
      val byDoc = Window.partitionBy(col("ch"), col("id"))
      val vec = p.join(dfreq, Seq("ch", "term"))
        .withColumn("w", col("tf") *
          smoothIdf(col("df"), element_at(typedLit(nByCh), col("ch"))))
        .withColumn("w", col("w") / l2Norm(col("w"), byDoc))
        .select(col("ch"), col("id"), col("term"), col("w"))
      saveClustered(vec, s"$dir/vectors", Seq("ch", "term"), buckets)
      phase("stats write")
      Store.writer(spark.createDataFrame(java.util.Arrays.asList(perCh: _*), n.schema)
        .coalesce(1)).parquet(s"$dir/stats")
      val stats = readBack("stats", n)
      MultiSparseIndex(vectors = readBack("vectors", vec), docFreq = dfreq, stats = stats)
    }

  def readMultiIndex(spark: SparkSession, dir: String): MultiSparseIndex =
    MultiSparseIndex(
      vectors = spark.read.parquet(s"$dir/vectors"),
      docFreq = spark.read.parquet(s"$dir/docFreq"),
      stats = spark.read.parquet(s"$dir/stats"))

  /** Multi-channel tf-idf search against the fitted index — N channels
    * scored by one term-pruned scan of the `(ch, term)`-keyed vectors.
    * `queries` maps channel -> query terms. */
  def tfidfSearchMultiIndexed(
      spark: SparkSession, index: MultiSparseIndex,
      queries: Seq[(String, Seq[String])]): DataFrame = {
    import spark.implicits._
    val allTerms = queries.flatMap(_._2).distinct
    val qdf = index.docFreq.filter(col("term").isin(allTerms: _*))
      .join(broadcast(index.stats), Seq("ch"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    val qw = queries.flatMap { case (ch, terms) =>
      terms.groupBy(identity).toSeq.flatMap { case (t, xs) =>
        qdf.get((ch, t)).map { case (df, n) =>
          (ch, t, xs.size * (math.log((n + 1.0) / (df + 1)) + 1.0))
        }
      }
    }
    val qnorm = qw.groupBy(_._1).map { case (ch, ws) =>
      ch -> math.sqrt(ws.map { case (_, _, w) => w * w }.sum)
    }
    val q = qw.map { case (ch, t, w) => (ch, t, w, qnorm(ch)) }
      .toDF("ch", "term", "qw", "qnorm")
    index.vectors
      .filter(col("term").isin(allTerms: _*))
      .join(broadcast(q), Seq("ch", "term"))
      .groupBy(col("ch"), col("id"))
      .agg(sum(col("w") * col("qw") / col("qnorm")).as("score"))
  }

  /** Word n-grams over the token sequence — the (1,3)-gram OCR/speech
    * channels (reference `ocr_retrieval.py:27-35`). Position-aware via
    * posexplode, assembled with a self-join-free slide over the array. */
  def ngrams(docs: DataFrame, idCol: String, textCol: String, nGram: Int): DataFrame = {
    // fanOutNarrow: see [[tokens]] — no-op at scale
    val toks = Skew.fanOutNarrow(docs.select(col(idCol).as("id"), col(textCol)))
      .select(col("id"),
        expr(s"regexp_extract_all(lower($textCol), '\\\\w+', 0)").as("toks"))
    // guard: sequence(1, 0) in Spark is the DESCENDING [1,0], so short docs
    // must yield an empty array explicitly
    toks.select(col("id"),
      explode(expr(
        s"case when size(toks) >= $nGram then " +
          s"transform(sequence(1, size(toks) - ${nGram - 1}), " +
          s"i -> array_join(slice(toks, i, $nGram), ' ')) " +
          s"else array() end")).as("ngram"))
  }

  /** Byte-pair-encoding trainer (Sennrich, Haddow & Birch 2016, ACL —
    * the standard subword tokenizer fit): start from characters with an
    * end-of-word marker, and `numMerges` times promote the most frequent
    * adjacent symbol pair (count-weighted over the word vocabulary, ties
    * to the lexicographically smaller pair) into one symbol. Returns the
    * ordered merge table `(step, pair, freq)` — the tokenizer ARTIFACT;
    * [[bpeSegment]] applies it.
    *
    * Distributed shape — the real trainer's, not a per-doc scan: ONE
    * corpus pass builds the word-frequency vocabulary (corpus text is
    * never touched again), then each merge iteration is a pair-count
    * aggregate + a map-only replace over the VOCABULARY relation (its
    * cardinality is the distinct-word count, millions of rows at 100 TB
    * — distributed here, while toy implementations hold it in a dict).
    * k merges = k tiny shuffles after the single corpus-scale one. The
    * driver sees one (pair, freq) row per iteration, like the k-means
    * driver sees centroids.
    *
    * Merge application uses literal leftmost non-overlapping string
    * replacement on the space-joined symbol string — for an odd-length
    * run of one repeated symbol both engines keep the same leftover
    * (identical `replace` semantics), which pins the convention the
    * oracle mirrors. */
  def bpeFit(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      numMerges: Int,
      maxLocalVocab: Int = 1000000): DataFrame = {
    require(numMerges >= 1, s"numMerges must be positive, got $numMerges")
    val spark = docs.sparkSession
    import spark.implicits._
    val vocab = bpeVocab(docs, idCol, textCol)
    // DRIVER-LOCAL merge loop (the powerIterate localization precedent):
    // after the one corpus-scale tokenize+count pass, the working set is
    // the WORD-FREQUENCY TABLE — corpus-independent, the thing BPE
    // implementations iterate in memory. The distributed loop
    // ([[bpeFitDistributed]], kept as the parity oracle) schedules one
    // aggregate + one map per merge over that table's ever-growing
    // lineage, so a production 32k-merge vocabulary means ~64k sequential
    // driver-scheduled jobs (r9 verdict #3). The in-memory loop runs as
    // the INCREMENTAL engine ([[bpeMergeLocal]]); [[bpeMergeLocalNaive]]
    // is its recount-everything parity twin mirroring the distributed
    // ops one-for-one. BpeSpec pins incremental == naive == distributed.
    // A vocabulary larger than `maxLocalVocab` falls back to the
    // distributed loop.
    val head = vocab.limit(maxLocalVocab + 1).collect()
    if (head.length > maxLocalVocab)
      return bpeFitDistributed(docs, idCol, textCol, numMerges)
    val words = head.map(r => (r.getString(0), r.getLong(1)))
    bpeMergeLocal(words, numMerges).toDF("step", "pair", "freq")
  }

  /** Spark's string ORDER BY comparison: UTF8 binary (unsigned byte)
    * order — the tie-break order every fit form selects pairs by. */
  private def utf8Compare(a: String, b: String): Int = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    x.length - y.length
  }

  /** The NAIVE in-memory merge loop — [[bpeMergeLocal]]'s parity twin
    * and the one-for-one mirror of [[bpeFitDistributed]]'s per-merge
    * engine ops: recount every adjacent pair over every word, select by
    * (freq DESC, pair ASC in UTF8-binary order), apply the leftmost
    * non-overlapping space-sentinel replace (String.replace and
    * UTF8String.replace both resume AFTER the replacement — the pinned
    * leftover convention) to every word. O(total symbols) per merge, so
    * a production 32k-merge fit is minutes-to-hours (measured 1054 s at
    * a 40k-type vocabulary, BASELINE.md); kept for spec parity, not
    * routing. */
  private[graft] def bpeMergeLocalNaive(
      words0: Array[(String, Long)],
      numMerges: Int): Seq[(Int, String, Long)] = {
    var words = words0
    val rules = scala.collection.mutable.ArrayBuffer.empty[(Int, String, Long)]
    for (step <- 1 to numMerges) {
      val freq = new java.util.HashMap[String, Long]()
      words.foreach { case (s, c) =>
        val syms = s.split(' ')
        var i = 0
        while (i < syms.length - 1) {
          val p = syms(i) + " " + syms(i + 1)
          freq.merge(p, c, _ + _)
          i += 1
        }
      }
      if (!freq.isEmpty) {
        var bestPair: String = null
        var bestF = Long.MinValue
        freq.forEach { (p, f) =>
          if (f > bestF || (f == bestF && utf8Compare(p, bestPair) < 0))
            { bestPair = p; bestF = f }
        }
        rules += ((step, bestPair, bestF))
        val merged = bestPair.replace(" ", "")
        val from = " " + bestPair + " "
        val to = " " + merged + " "
        words = words.map { case (s, c) =>
          // the boundary spaces always survive the replace (the
          // replacement starts/ends with one) — strip exactly them
          val r = (" " + s + " ").replace(from, to)
          (r.substring(1, r.length - 1), c)
        }
      }
    }
    rules.toSeq
  }

  /** The INCREMENTAL in-memory merge engine — the standard fast BPE
    * trainer (Sennrich's learn_bpe and every production tokenizer fit
    * use this shape): maintain the global pair-frequency table, an
    * inverted pair→words index, and a lazily-invalidated max-heap keyed
    * (freq DESC, pair ASC in UTF8-binary order). Each merge pops the
    * heap until an entry matches the live table (stale entries from
    * superseded counts are discarded), then touches ONLY the words that
    * contain the winning pair: re-derive that word's pair multiset after
    * the same leftmost non-overlapping replace the naive loop applies,
    * and apply the delta to the table, the index, and the heap. Work per
    * merge is proportional to the winning pair's word support, not the
    * vocabulary — sum over all merges ≈ total symbol mass, vs the naive
    * loop's merges × vocabulary. Measured at the production shape
    * (40k-type vocabulary, 32768 merges): naive 1054 s → incremental
    * seconds (BASELINE.md r12). Exact-parity twin of
    * [[bpeMergeLocalNaive]] by construction: same selection order, same
    * replace convention (a merged pair whose later occurrence survives
    * the non-overlapping replace keeps its residual count and can win
    * again — the delta recount reproduces this because it re-derives
    * pairs from the replaced string, never assumes the pair vanished).
    *
    * DRIVER MEMORY: the index holds one (pair → word-id) membership per
    * distinct adjacent pair occurrence — bounded by total symbol count,
    * the same order as the collected vocabulary itself. The heap is
    * compacted whenever stale entries outnumber live pairs 8:1. */
  private[graft] def bpeMergeLocal(
      words0: Array[(String, Long)],
      numMerges: Int): Seq[(Int, String, Long)] = {
    val words = words0.map(_._1)
    val counts = words0.map(_._2)
    // per-word adjacent-pair multiset (pair -> occurrences within word)
    def pairCounts(s: String): java.util.HashMap[String, Int] = {
      val m = new java.util.HashMap[String, Int]()
      val syms = s.split(' ')
      var i = 0
      while (i < syms.length - 1) {
        m.merge(syms(i) + " " + syms(i + 1), 1, (a: Int, b: Int) => a + b)
        i += 1
      }
      m
    }
    val pairFreq = new java.util.HashMap[String, Long]()
    val pairWords = new java.util.HashMap[String, java.util.HashSet[Integer]]()
    val cmp = new java.util.Comparator[(String, Long)] {
      def compare(a: (String, Long), b: (String, Long)): Int = {
        val c = java.lang.Long.compare(b._2, a._2) // freq DESC
        if (c != 0) c else utf8Compare(a._1, b._1) // pair ASC
      }
    }
    var heap = new java.util.PriorityQueue[(String, Long)](cmp)
    def bump(p: String, d: Long): Unit = {
      val f = pairFreq.getOrDefault(p, 0L) + d
      if (f <= 0L) pairFreq.remove(p)
      else { pairFreq.put(p, f); heap.add((p, f)) }
    }
    var idx = 0
    while (idx < words.length) {
      val c = counts(idx)
      pairCounts(words(idx)).forEach { (p, k) =>
        pairFreq.merge(p, k.toLong * c, (a: Long, b: Long) => a + b)
        pairWords.computeIfAbsent(p, _ => new java.util.HashSet[Integer]()).add(idx)
      }
      idx += 1
    }
    pairFreq.forEach { (p, f) => heap.add((p, f)) }
    val rules = scala.collection.mutable.ArrayBuffer.empty[(Int, String, Long)]
    var step = 1
    var exhausted = false
    while (step <= numMerges && !exhausted) {
      // pop to the first LIVE entry: an entry is live iff its freq equals
      // the current table's (a pair re-pushed on every change always has
      // a live entry; superseded ones mismatch and drop)
      var bestPair: String = null
      var bestF = 0L
      while (bestPair == null && !heap.isEmpty) {
        val e = heap.poll()
        if (pairFreq.getOrDefault(e._1, 0L) == e._2) { bestPair = e._1; bestF = e._2 }
      }
      if (bestPair == null) exhausted = true
      else {
        rules += ((step, bestPair, bestF))
        // the popped entry was the pair's live entry — restore it before
        // the deltas (the merge may leave it with a residual count, and
        // bump only re-pushes pairs whose count CHANGES)
        heap.add((bestPair, bestF))
        val merged = bestPair.replace(" ", "")
        val from = " " + bestPair + " "
        val to = " " + merged + " "
        val touchedSet = pairWords.get(bestPair)
        if (touchedSet != null) {
          val touched = touchedSet.toArray(new Array[Integer](touchedSet.size))
          var t = 0
          while (t < touched.length) {
            val w = touched(t).intValue
            val old = words(w)
            val r = (" " + old + " ").replace(from, to)
            val neu = r.substring(1, r.length - 1)
            val c = counts(w)
            val oldM = pairCounts(old)
            val newM = pairCounts(neu)
            newM.forEach { (p, k) =>
              val ok = oldM.getOrDefault(p, 0)
              if (k != ok) bump(p, (k.toLong - ok) * c)
              if (ok == 0)
                pairWords.computeIfAbsent(p, _ => new java.util.HashSet[Integer]()).add(w)
            }
            oldM.forEach { (p, k) =>
              if (!newM.containsKey(p)) {
                bump(p, -k.toLong * c)
                val s = pairWords.get(p)
                if (s != null) { s.remove(w); if (s.isEmpty) pairWords.remove(p) }
              }
            }
            words(w) = neu
            t += 1
          }
        }
        // compact the lazy heap when stale entries dominate
        if (heap.size > 8 * math.max(1, pairFreq.size)) {
          val fresh = new java.util.PriorityQueue[(String, Long)](cmp)
          pairFreq.forEach { (p, f) => fresh.add((p, f)) }
          heap = fresh
        }
        step += 1
      }
    }
    rules.toSeq
  }

  /** The symbolized word-frequency table both fit forms start from: one
    * tokenize+count pass, `(s, c)` with `s` the space-joined characters
    * plus the `</w>` end marker. */
  private[graft] def bpeVocab(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    tokens(docs, idCol, textCol)
      .groupBy(col("term")).agg(count(lit(1)).as("c"))
      .select(
        // filter(… <> '') : Spark's split uses limit -1, which keeps the
        // trailing empty match a char-split produces (DuckDB's does not)
        concat(array_join(expr("filter(split(term, ''), x -> x <> '')"), " "),
          lit(" </w>")).as("s"),
        col("c"))

  /** The DISTRIBUTED merge loop — [[bpeFit]]'s parity oracle and its
    * fallback for vocabularies past `maxLocalVocab` (each merge = one
    * tiny aggregate + one map over the vocabulary relation).
    *
    * Every merge's projection references the previous merge's frame, so
    * without truncation the logical plan grows linearly in merges and
    * each iteration REPLANS the whole prefix — measured ~0.34 s/merge
    * and climbing at r10, hours extrapolated at a production 32k-merge
    * run. A lazy `localCheckpoint` every `checkpointEvery` merges (the
    * [[Dedup.canonicalIds]] precedent) bounds plan depth to one
    * checkpoint interval; the next iteration's top-pair aggregate
    * materializes it, and at most one superseded checkpoint is resident
    * (blocks freed by the context cleaner once lineage drops it).
    * Checkpointing changes no values — BpeSpec pins local == distributed
    * parity across the interval boundary. */
  def bpeFitDistributed(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      numMerges: Int,
      checkpointEvery: Int = 8): DataFrame = {
    require(numMerges >= 1, s"numMerges must be positive, got $numMerges")
    require(checkpointEvery >= 1,
      s"checkpointEvery must be positive, got $checkpointEvery")
    val spark = docs.sparkSession
    var v = bpeVocab(docs, idCol, textCol)
    val rules = scala.collection.mutable.ArrayBuffer.empty[(Int, String, Long)]
    for (step <- 1 to numMerges) {
      val top = v
        // guard: a fully-merged word has ONE symbol, and sequence(1, 0)
        // is the DESCENDING [1, 0] (see ngrams) — element_at(_, 0) throws
        .select(explode(expr(
            "case when size(split(s, ' ')) >= 2 then " +
              "transform(sequence(1, size(split(s, ' ')) - 1), " +
              "i -> concat(element_at(split(s, ' '), i), ' ', " +
              "element_at(split(s, ' '), i + 1))) " +
              "else array() end")).as("pair"),
          col("c"))
        .groupBy(col("pair")).agg(sum(col("c")).as("f"))
        .orderBy(col("f").desc, col("pair").asc)
        .limit(1).collect()
      if (top.nonEmpty) {
        val (pair, f) = (top.head.getString(0), top.head.getLong(1))
        rules += ((step, pair, f))
        val merged = pair.replace(" ", "")
        v = v.select(
          expr(s"btrim(replace(concat(' ', s, ' '), ' $pair ', ' $merged '))").as("s"),
          col("c"))
        if (step % checkpointEvery == 0) v = v.localCheckpoint(false)
      }
    }
    import spark.implicits._
    rules.toSeq.toDF("step", "pair", "freq")
  }

  /** Persist a [[bpeFit]] merge table — the tokenizer ARTIFACT, under the
    * same fit-once/load-don't-refit discipline as [[writeIndex]]: train on
    * the data freeze, then every segmentation job (and every future
    * shard) loads the k-row table instead of refitting. */
  def writeBpe(
      spark: SparkSession, docs: DataFrame, idCol: String, textCol: String,
      numMerges: Int, dir: String): DataFrame = {
    graft.sources.Store.writeSingle(bpeFit(docs, idCol, textCol, numMerges),
      s"$dir/bpe_merges")
    loadBpeMerges(spark, dir)
  }

  /** Load a persisted [[writeBpe]] merge table. */
  def loadBpeMerges(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/bpe_merges")

  /** Apply a [[bpeFit]] merge table: symbolize each document's tokens
    * (characters + end-of-word marker) and replay the merges in step
    * order over each document row; the merge list is driver-collected
    * (it is the k-row tokenizer artifact, like a probed centroid set).
    * Returns `(id, n_words, n_subwords)` — the fitted subword count
    * [[graft.operators.TextAnalysis.tokenCounts]]' chars/4 heuristic
    * only estimates.
    *
    * Two physical forms, dispatched on rule count and exact-parity
    * pinned in BpeSpec: at most `maxFoldRules` rules fold as nested
    * `replace` Columns ([[bpeSegmentFolded]] — one map-only projection,
    * CTE-expressible for the DuckDB oracle), while anything larger
    * routes through [[bpeSegmentReplay]] — the same map-only shape as a
    * `mapPartitions` kernel over the broadcast rule array. The fold form
    * does not survive rule-count scale-up: analyzer recursion over the
    * nested Column tree StackOverflows around ~100 rules at a default
    * 1 MB thread stack (measured in this repo's test fork), long before
    * a production 32k-rule artifact — hence the conservative default. */
  def bpeSegment(
      docs: DataFrame,
      merges: DataFrame,
      idCol: String,
      textCol: String,
      maxFoldRules: Int = 32): DataFrame = {
    val rules = merges.orderBy(col("step")).collect()
      .map(r => r.getAs[String]("pair"))
    if (rules.length <= maxFoldRules) bpeSegmentFolded(docs, rules, idCol, textCol)
    else bpeSegmentReplay(docs, rules, idCol, textCol)
  }

  /** The shared front half of both segment forms: tokenize (same `\w+`
    * extraction every text operator uses) and symbolize — space-joined
    * characters plus the `</w>` end marker, words joined by single
    * spaces (no fit pair ever spans the `</w>` boundary, so whole-string
    * and per-word replace agree). */
  private def bpeSymbolized(
      docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("id"),
      expr(s"regexp_extract_all(lower($textCol), '\\\\w+', 0)").as("__w"))
      .withColumn("__s", expr(
        "array_join(transform(__w, w -> concat(" +
          "array_join(filter(split(w, ''), x -> x <> ''), ' '), ' </w>')), ' ')"))

  /** Literal-fold segment form: one nested-`replace` Column per rule.
    * Fold with Column functions (an expr string cannot nest a Column);
    * replace() has no Column-API form, so call it by name. */
  private[graft] def bpeSegmentFolded(
      docs: DataFrame,
      rules: Array[String],
      idCol: String,
      textCol: String): DataFrame = {
    val base = bpeSymbolized(docs, idCol, textCol)
    val foldedCol = rules.foldLeft(col("__s")) { (c, pair) =>
      val merged = pair.replace(" ", "")
      btrim(call_function("replace",
        concat(lit(" "), c, lit(" ")), lit(s" $pair "), lit(s" $merged ")))
    }
    base.select(col("id"),
      size(col("__w")).cast("long").as("n_words"),
      when(size(col("__w")) === 0, lit(0L))
        .otherwise(size(split(foldedCol, " ")).cast("long")).as("n_subwords"))
  }

  /** Replay segment form for production-sized artifacts: a
    * `mapPartitions` kernel over the broadcast rule array that applies
    * each rule as ONE leftmost non-overlapping sweep, in step order —
    * bit-identical to the nested sentinel replaces of
    * [[bpeSegmentFolded]] (BpeSpec pins the parity, including the
    * residual convention: String.replace resumes AFTER the replacement,
    * so the symbol following a fuse cannot START the next match and a
    * merged pair's surviving occurrence waits for a later duplicate
    * rule). Rules whose pair is absent cost one O(1) count-map lookup,
    * so a document costs O(k + applied·length) — the adjacent-pair count
    * map is maintained by per-fuse deltas, never recounted. Plan shape
    * is unchanged: scan-shaped, zero shuffles, rule artifact broadcast
    * once per executor. */
  private[graft] def bpeSegmentReplay(
      docs: DataFrame,
      rules: Array[String],
      idCol: String,
      textCol: String): DataFrame = {
    val spark = docs.sparkSession
    val pre = bpeSymbolized(docs, idCol, textCol)
      .select(col("id"),
        size(col("__w")).cast("long").as("n_words"), col("__s"))
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      pre.schema("id"),
      org.apache.spark.sql.types.StructField("n_words",
        org.apache.spark.sql.types.LongType, nullable = true),
      org.apache.spark.sql.types.StructField("n_subwords",
        org.apache.spark.sql.types.LongType, nullable = true)))
    val bRules = spark.sparkContext.broadcast(rules)
    val out = pre.rdd.mapPartitions { it =>
      val rl = bRules.value
      def bump(pc: java.util.HashMap[String, Int], p: String, d: Int): Unit = {
        val f = pc.getOrDefault(p, 0) + d
        if (f <= 0) pc.remove(p) else pc.put(p, f)
      }
      // one sweep of `pair` over `syms`, mirroring
      // `btrim(replace(' '||s||' ', ' a b ', ' ab '))`: leftmost
      // non-overlapping, and the symbol after a fuse cannot start a
      // match (its leading space was consumed by the replacement)
      def sweep(syms: Array[String], pair: String,
          pc: java.util.HashMap[String, Int]): Array[String] = {
        val sp = pair.indexOf(' ')
        val a = pair.substring(0, sp)
        val b = pair.substring(sp + 1)
        val merged = a + b
        val n = syms.length
        val out = new scala.collection.mutable.ArrayBuffer[String](n)
        var i = 0
        while (i < n) {
          if (i + 1 < n && syms(i) == a && syms(i + 1) == b) {
            if (out.nonEmpty) {
              bump(pc, out.last + " " + a, -1)
              bump(pc, out.last + " " + merged, 1)
            }
            bump(pc, pair, -1)
            if (i + 2 < n) {
              bump(pc, b + " " + syms(i + 2), -1)
              bump(pc, merged + " " + syms(i + 2), 1)
              out += merged
              out += syms(i + 2) // blocked from starting the next match
              i += 3
            } else { out += merged; i += 2 }
          } else { out += syms(i); i += 1 }
        }
        out.toArray
      }
      it.map { row =>
        if (row.isNullAt(1))
          org.apache.spark.sql.Row(row.get(0), null, null)
        else {
          val nWords = row.getLong(1)
          val nSub =
            if (nWords == 0L) 0L
            else {
              var syms = row.getString(2).split(' ')
              val pc = new java.util.HashMap[String, Int]()
              var i = 0
              while (i < syms.length - 1) {
                bump(pc, syms(i) + " " + syms(i + 1), 1)
                i += 1
              }
              var r = 0
              while (r < rl.length) {
                if (pc.getOrDefault(rl(r), 0) > 0) syms = sweep(syms, rl(r), pc)
                r += 1
              }
              syms.length.toLong
            }
          org.apache.spark.sql.Row(row.get(0), nWords, nSub)
        }
      }
    }
    spark.createDataFrame(out, outSchema)
  }
}
