package graft.api

import graft.functions.VectorOps
import graft.operators._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The §1 corpus: keyframe fact table + embedding column table + shot
  * hierarchy (FIXTURES.md §A schemas). `embeddings` may carry one or two
  * model columns (clip / clipv2), both `ARRAY<FLOAT>`, L2-normalized;
  * every embedding id is a keyframe id. */
case class Corpus(
  keyframes: DataFrame, // id, collection, video_id, shot_id, ..., partition_tag
  embeddings: DataFrame, // id, clip [, clipv2]
  shots: DataFrame)      // video_id, shot_id, keyframe_ids ARRAY<BIGINT>

/** Candidate-set request surface of every reference endpoint
  * (`app.py:313-328`): explicit id allowlist ∩ complement of the
  * shot-expanded ignore list ∩ search-space partition. */
case class Filters(
  ids: Option[Seq[Long]] = None,
  ignoreIds: Seq[Long] = Nil,
  partitionTag: Option[Int] = None,
  videos: Option[Seq[String]] = None)

/** C8/C9 query-preprocessing seam (reference `faiss_processing.py:119` +
  * `nlp_processing.py:4-27`: every Vietnamese /textsearch runs vi->en
  * translation — and the dormant spell-correction rides the same spot —
  * over the RAW query string before it is encoded/vectorized). The
  * external services themselves are out of engine scope (SURVEY §7), so
  * the engine exposes the pipeline SHAPE: a `String => String` stage,
  * identity by default, composable via [[QueryPreprocessor.chain]]. */
object QueryPreprocessor {
  type Stage = String => String
  val identity: Stage = q => q
  /** Left-to-right composition: `chain(translate, spellCorrect)` mirrors
    * the reference's translate-then-correct order. */
  def chain(stages: Stage*): Stage = q => stages.foldLeft(q)((s, f) => f(s))
}

/** The reference's query endpoints (§3) as one typed facade over the
  * operator library — what "switching to this engine" looks like for a user
  * of the reference: same request surface (k, model toggles, filters,
  * relevance votes, hierarchy lookups), DataFrame results shaped like the
  * reference's grouped responses (`search_utils.py:62-93`). Every method
  * returns a lazy plan; the only driver-side materialization is
  * REQUEST-bounded (the coarse probe's cell ranking, and the literal
  * candidate lists of /feedback and the temporal re-query — payload-sized
  * by contract, collected so the corpus scans carry pushed-down id
  * predicates instead of decoding whole columns per request).
  *
  * `preprocess` interposes the C8/C9 query-preprocessing stage wherever
  * the facade accepts RAW query text (see [[panelQuery]]); vector-typed
  * entry points take post-encoding input, exactly like the reference's
  * FAISS layer. */
class SearchEngine(
    corpus: Corpus,
    preprocess: QueryPreprocessor.Stage = QueryPreprocessor.identity) {

  /** Encoder-dim guard (reference `utils/faiss_processing.py:133-151`: a
    * query encoded by the wrong model is caught before it reaches the FAISS
    * index). The engine REFUSES a wrong-dim vector outright — a silent
    * mismatch would zip-truncate the dot product into a wrong-but-plausible
    * score, the worst failure mode a serving layer can have. The corpus dim
    * reads one row of the embedding table, once per facade instance. */
  private lazy val clipDim: Int =
    corpus.embeddings.select(size(col("clip"))).head.getInt(0)
  private lazy val clipv2Dim: Int =
    corpus.embeddings.select(size(col("clipv2"))).head.getInt(0)
  private def requireDim(qv: Array[Float], dim: Int, channel: String): Unit =
    require(qv.length == dim,
      s"$channel query vector has dim ${qv.length} but the corpus encodes dim $dim " +
        "— the query was encoded by a different model")

  /** The keyframes the request's id, partition and video filters keep;
    * None when it sets none of them. */
  private def restricted(f: Filters): Option[DataFrame] =
    if (f.ids.isEmpty && f.partitionTag.isEmpty && f.videos.isEmpty) None
    else {
      var kf = corpus.keyframes
      f.partitionTag.foreach(p => kf = kf.filter(col("partition_tag") === p))
      f.videos.foreach(vs => kf = kf.filter(col("video_id").isin(vs: _*)))
      f.ids.foreach { ids =>
        kf = Candidates.restrictTo(kf,
          kf.sparkSession.createDataFrame(ids.map(Tuple1(_))).toDF("id"), "id")
      }
      Some(kf)
    }

  /** F3: the ids of every ignored keyframe's whole shot (app.py:192-203);
    * None when the request ignores nothing. */
  private def ignored(f: Filters): Option[DataFrame] =
    if (f.ignoreIds.isEmpty) None
    else {
      val ign = corpus.keyframes.sparkSession
        .createDataFrame(f.ignoreIds.map(Tuple1(_))).toDF("id")
      val ignShots = corpus.keyframes.join(ign, Seq("id"))
        .select(col("video_id"), col("shot_id")).distinct()
      Some(corpus.keyframes
        .join(broadcast(ignShots), Seq("video_id", "shot_id"))
        .select(col("id")))
    }

  private def candidates(f: Filters): DataFrame = {
    val kf = restricted(f).getOrElse(corpus.keyframes)
    ignored(f).fold(kf)(Candidates.exclude(kf, _, "id"))
  }

  /** At most `rows` scored `(id, score)` rows -> `video_id` attached ->
    * A4 grouping. The rows are cut again after the `video_id` join (a
    * top-`rows` that keeps every row): the cut hands the grouping one
    * partition, so it and its ordering run in the final job with no
    * shuffle of their own. */
  private def grouped(scored: DataFrame, rows: Int): DataFrame =
    GroupShaping.groupResults(
      scored.withColumn("score", round(col("score"), 6))
        .join(corpus.keyframes.select("id", "video_id"), Seq("id"))
        .orderBy(col("score").desc, col("id"))
        .limit(rows),
      groupCol = "video_id", idCol = "id", scoreCol = "score")

  private def scoreChannel(cands: DataFrame, vecCol: String, qv: Array[Float], k: Int) =
    corpus.embeddings
      .join(cands.select("id"), Seq("id"), "left_semi")
      .withColumn("qv", lit(qv))
      .select(col("id"), round(VectorOps.dot(col(vecCol), col("qv")), 6).as("score"))
      .orderBy(col("score").desc, col("id"))
      .limit(k)

  /** §3.1 /textsearch: one or two dense channels -> A1 fusion -> A4
    * grouping. `queryVec2` engages the second model (clip && clipv2). */
  def textSearch(
      queryVec: Array[Float], k: Int, filters: Filters = Filters(),
      queryVec2: Option[Array[Float]] = None): DataFrame = {
    requireDim(queryVec, clipDim, "clip")
    queryVec2.foreach(requireDim(_, clipv2Dim, "clipv2"))
    val cands = candidates(filters)
    val channels = scoreChannel(cands, "clip", queryVec, k) +:
      queryVec2.toSeq.map(scoreChannel(cands, "clipv2", _, k))
    grouped(Fusion.fuseByAddition(channels), channels.size * k)
  }

  /** /imgsearch: dense search seeded by a STORED embedding (query-by-id,
    * `app.py:270-278` — `CosineFaiss.image_search`). Same scan -> codegen
    * dot -> top-k plan as /textsearch, with the query vector joined in from
    * the corpus instead of passed by the caller. */
  def imageSearch(imgId: Long, k: Int, filters: Filters = Filters()): DataFrame = {
    val qv = corpus.embeddings.filter(col("id") === imgId)
      .select(col("clip").as("qv"))
    grouped(corpus.embeddings
      .join(candidates(filters).select("id"), Seq("id"), "left_semi")
      .crossJoin(broadcast(qv))
      .select(col("id"), round(VectorOps.dot(col("clip"), col("qv")), 6).as("score"))
      .orderBy(col("score").desc, col("id"))
      .limit(k), k)
  }

  /** Per-request probe depth: an explicit request value wins; otherwise
    * the index's PERSISTED recall-calibrated default (the `params`
    * artifact written by [[Similarity.buildDenseIndex]] when calibration
    * is on), falling back to 2 for indexes that carry none — so a caller
    * that says nothing gets the probe depth the build measured for its
    * recall target instead of a corpus-blind constant. */
  private def resolveNprobe(nprobe: Option[Int], index: Similarity.DenseIndex): Int =
    nprobe.orElse(index.defaultNprobe).getOrElse(2)

  /** One query vector as the single-row `(qv)` frame the dense core takes:
    * a local frame, which the core reads and meets as a literal, with no
    * Spark job. */
  private def queryFrame(qv: Array[Float]): DataFrame = {
    val spark = corpus.embeddings.sparkSession
    import spark.implicits._
    Seq(qv).toDF("qv")
  }

  /** One index-backed dense channel: [[Similarity.ivfSearchPruned]] over
    * the persisted index — the FAISS `index.search` analog — with the
    * request's candidate set admitted inside the probed cells before the
    * top-k cut (`faiss_processing.py:154-166`). An index-carried
    * hierarchy probes two-level at its `default_nprobe_l1`; a caller
    * overriding the L1 depth per request passes
    * `index.copy(defaultNprobeL1 = Some(n))`. The index must be built over
    * THIS corpus's embeddings (`id`/`vecCol` schema). Output `(id, score)`,
    * score rounded at 6. */
  private def ivfChannel(
      index: Similarity.DenseIndex, vecCol: String, qv: Array[Float],
      k: Int, nprobe: Option[Int], filters: Filters): DataFrame =
    Similarity.ivfSearchPruned(index.cells, index.centroids, queryFrame(qv),
      resolveNprobe(nprobe, index), k, idCol = "id", vecCol = vecCol,
      restrictIds = restricted(filters).map(_.select("id")),
      excludeIds = ignored(filters), roundTo = 6,
      hierarchy = index.hierarchy, nprobeL1 = index.defaultNprobeL1)

  /** §3.1 /textsearch in INDEX-BACKED (ANN) mode: same request surface as
    * [[textSearch]] — k, per-request candidate filters, optional second
    * model channel — served from the persisted dense index instead of an
    * exact corpus scan (the reference's FAISS-index path married to the
    * engine's scale shape: every `/textsearch` request carries filters,
    * `app.py:313-328`, and FAISS pushes them into the index,
    * `faiss_processing.py:154-166`). At full probe (nprobe >= cell count)
    * results equal [[textSearch]] exactly; at partial probe the scan
    * touches ~nprobe/cells of the corpus. `index2` serves the clipv2
    * channel when `queryVec2` engages the dual-model fusion. A zero `k` or
    * `nprobe` is refused by name. */
  def textSearchAnn(
      index: Similarity.DenseIndex,
      queryVec: Array[Float], k: Int,
      filters: Filters = Filters(),
      nprobe: Option[Int] = None,
      queryVec2: Option[Array[Float]] = None,
      index2: Option[Similarity.DenseIndex] = None): DataFrame = {
    requireDim(queryVec, clipDim, "clip")
    queryVec2.foreach(requireDim(_, clipv2Dim, "clipv2"))
    require(queryVec2.isEmpty || index2.isDefined,
      "dual-model ANN needs the clipv2 channel's own fitted index (index2)")
    val channels = ivfChannel(index, "clip", queryVec, k, nprobe, filters) +:
      queryVec2.toSeq.map(ivfChannel(index2.get, "clipv2", _, k, nprobe, filters))
    grouped(Fusion.fuseByAddition(channels), channels.size * k)
  }

  /** §3.1 /textsearch served through the 1-BIT BINARY coarse tier:
    * [[Similarity.ivfBinaryRefineSearch]] Hamming-ranks the probed cells'
    * signatures (1 bit/dim — 32x less coarse IO than the float cells) and
    * exact-refines only the shortlist, with the request's candidate
    * filters admitted BEFORE both cuts (the F1 discipline: kCoarse counts
    * ADMISSIBLE candidates, so a tight filter cannot starve the refine).
    * `kCoarse` defaults to the index's CALIBRATED `default_kcoarse_bq`
    * — persisted by the build to meet its recall target at the
    * calibrated nprobe, so the default-knob request serves calibrated
    * quality with no caller-side constants. */
  def textSearchAnnBinary(
      index: Similarity.DenseIndex,
      queryVec: Array[Float], k: Int,
      filters: Filters = Filters(),
      nprobe: Option[Int] = None,
      kCoarse: Option[Int] = None): DataFrame = {
    requireDim(queryVec, clipDim, "clip")
    val bin = index.binary.getOrElse(sys.error(
      "this index carries no binary signature store — rebuild with the " +
        "r15 buildDenseIndex (or pass the flat/SQ8 serving path)"))
    val kc = kCoarse.orElse(index.defaultKCoarseBq).getOrElse(sys.error(
      "no kCoarse given and the index has no calibrated default_kcoarse_bq " +
        "— build with calibrateRecall or pass kCoarse explicitly"))
    grouped(Similarity.ivfBinaryRefineSearch(bin, index.cells, index.centroids,
      queryFrame(queryVec), resolveNprobe(nprobe, index), kc, k,
      idCol = "id", vecCol = "clip", roundTo = 6,
      restrictIds = restricted(filters).map(_.select("id")),
      excludeIds = ignored(filters),
      hierarchy = index.hierarchy, nprobeL1 = index.defaultNprobeL1), k)
  }

  /** One PQ-served dense channel: [[Similarity.ivfPqRefineSearch]]
    * ADC-scores the probed cells' persisted codes (M bytes/row), shortlists
    * `kCoarse` ADMISSIBLE candidates (the request's candidate set is
    * admitted BEFORE the cut — the F1 discipline) and exactly re-scores
    * only the shortlist's original vectors. An OPQ index's `rotation`
    * rotates the query for the ADC stage only. */
  private def pqChannel(
      index: Similarity.DenseIndex, vecCol: String, qv: Array[Float],
      k: Int, kCoarse: Int, nprobe: Option[Int], filters: Filters): DataFrame =
    Similarity.ivfPqRefineSearch(index.cells, index.codes, index.codebooks,
      index.centroids, queryFrame(qv), resolveNprobe(nprobe, index), kCoarse, k,
      index.numSub, index.subDim, idCol = "id", vecCol = vecCol, roundTo = 6,
      restrictIds = restricted(filters).map(_.select("id")),
      excludeIds = ignored(filters), rotation = index.rotation,
      hierarchy = index.hierarchy, nprobeL1 = index.defaultNprobeL1)

  /** §3.1 /textsearch served through the QUANTIZED store (VERDICT r17 #2
    * — the facade entry point for the 100 TB serving shape RECALL.md r17
    * measures: ADC + exact refine through the coarse hierarchy): same
    * request surface as [[textSearchAnn]] — k, per-request candidate
    * filters, optional second model channel — with the scan-heavy stage
    * reading M-byte PQ codes instead of d-float vectors and the corpus
    * floats touched for exactly `kCoarse` rows per channel. The probe
    * runs two-level at the index's persisted calibrated
    * (default_nprobe_l1, default_nprobe) pair when the hierarchy is
    * present, flat otherwise. `kCoarse` defaults to
    * 16·k — the measured float-recall-parity multiple at the calibrated
    * pair on the 1M x d=768 / 84k-centroid store (RECALL.md r17:
    * ADC+refine at kCoarse=16k reaches the float path's 0.850@20);
    * indexes with a different quantization error profile pass their own.
    * The index must carry a codes store keyed by the facade id column and
    * its `numSub`/`subDim` geometry. */
  def textSearchAnnPq(
      index: Similarity.DenseIndex,
      queryVec: Array[Float], k: Int,
      filters: Filters = Filters(),
      nprobe: Option[Int] = None,
      kCoarse: Option[Int] = None,
      queryVec2: Option[Array[Float]] = None,
      index2: Option[Similarity.DenseIndex] = None): DataFrame = {
    requireDim(queryVec, clipDim, "clip")
    queryVec2.foreach(requireDim(_, clipv2Dim, "clipv2"))
    require(queryVec2.isEmpty || index2.isDefined,
      "dual-model PQ ANN needs the clipv2 channel's own fitted index (index2)")
    require(index.codes.columns.nonEmpty,
      "this index carries no PQ codes store — build with buildDenseIndex " +
        "(or serve the float/binary paths)")
    val kc = kCoarse.getOrElse(16 * k)
    val channels = pqChannel(index, "clip", queryVec, k, kc, nprobe, filters) +:
      queryVec2.toSeq.map(pqChannel(index2.get, "clipv2", _, k, kc, nprobe, filters))
    grouped(Fusion.fuseByAddition(channels), channels.size * k)
  }

  /** Hybrid dense+sparse retrieval fused by reciprocal rank
    * ([[Fusion.fuseByRrf]], k0=60): the dense leg serves from the persisted
    * ANN index ([[ivfChannel]]), the keyword leg answers from the FITTED
    * sparse index (term-pruned artifact reads via
    * [[Lexical.bm25SearchIndexed]]), both legs honor the
    * same per-request candidate filters, and RRF merges by RANK — so BM25
    * magnitudes and cosine similarities fuse without any cross-channel
    * score calibration (the weakness of min-max addition fusion when
    * channel score distributions differ). Both legs are k-bounded serving
    * reads; fusion cost is independent of corpus size. */
  def hybridSearch(
      index: Similarity.DenseIndex,
      sparse: Lexical.SparseIndex,
      queryVec: Array[Float],
      keywordQuery: String,
      k: Int,
      filters: Filters = Filters(),
      nprobe: Option[Int] = None,
      rrfK0: Int = 60): DataFrame = {
    requireDim(queryVec, clipDim, "clip")
    val spark = corpus.embeddings.sparkSession
    val chDense = ivfChannel(index, "clip", queryVec, k, nprobe, filters)
    val terms = raw"\w+".r.findAllIn(preprocess(keywordQuery).toLowerCase).toSeq
    val chSparse = Lexical.bm25SearchIndexed(spark, sparse, terms)
      .join(candidates(filters).select("id"), Seq("id"))
      .select(col("id"), round(col("score"), 6).as("score"))
      .orderBy(col("score").desc, col("id"))
      .limit(k)
    grouped(Fusion.fuseByRrf(Seq(chDense, chSparse), rrfK0), 2 * k)
  }

  /** /imgsearch in INDEX-BACKED (ANN) mode: query-by-id against the
    * persisted dense index — the stored query vector probes the centroid
    * artifact, the pruned cell partitions are exactly re-scored. Same
    * grouping/filters surface as [[imageSearch]]. */
  def imageSearchAnn(
      index: Similarity.DenseIndex,
      imgId: Long, k: Int,
      filters: Filters = Filters(),
      nprobe: Option[Int] = None): DataFrame = {
    // the stored query vector is ONE row by contract — collect it and
    // serve it through [[ivfChannel]]. A missing id AND a stored-but-NULL
    // vector both serve the empty shape (the pre-r16 lazy plan scored
    // dot(clip, null) to null rows).
    val qvRows = corpus.embeddings.filter(col("id") === imgId)
      .select(col("clip")).limit(1).collect()
    grouped(qvRows.headOption.filter(!_.isNullAt(0)) match {
      case None => corpus.keyframes.select(col("id"), lit(0.0d).as("score")).limit(0)
      case Some(row) =>
        ivfChannel(index, "clip", row.getSeq[Float](0).toArray, k, nprobe, filters)
    }, k)
  }

  /** §3.2 /panel: multi-channel sparse context search. `channels` maps a
    * channel name to (channelTextColumn-on-keyframes-table, queryTerms) —
    * e.g. bbox tokens from [[graft.functions.GridEncoding]], tag words,
    * OCR text. All channels are served from ONE (channel, term)-keyed
    * postings build ([[Lexical.tfidfSearchMulti]]), then A1 fusion and A4
    * grouping (`faiss_processing.py:234-277`). `channelDocs` carries the
    * per-id channel text columns (id + one STRING column per channel).
    * Single channel passes through unnormalized, as in the reference. */
  def panel(
      channelDocs: DataFrame,
      channels: Map[String, Seq[String]],
      k: Int,
      filters: Filters = Filters()): DataFrame = {
    val cands = candidates(filters)
    val docs = channelDocs.join(cands.select("id"), Seq("id"), "left_semi")
    val spark = channelDocs.sparkSession
    val chans = channels.toSeq.sortBy(_._1)
    val fusedScores =
      if (chans.sizeIs == 1)
        Lexical.tfidfSearch(spark, docs, "id", chans.head._1, chans.head._2)
          .select(col("id"), round(col("score"), 6).as("score"))
      else
        Fusion.fuseByAdditionKeyed(
          Lexical.tfidfSearchMulti(spark,
            chans.map { case (ch, terms) => (ch, docs, "id", ch, terms) })
            .select(col("ch"), col("id"), round(col("score"), 6).as("score")))
    grouped(fusedScores
      .withColumn("score", round(col("score"), 6))
      .orderBy(col("score").desc, col("id"))
      .limit(k), k)
  }

  /** §3.2 /panel against a FITTED multi-channel index
    * ([[graft.operators.Lexical.writeMultiIndex]] artifacts): the
    * production form — the corpus is never scanned at query time; channel
    * scores come from term-pruned artifact reads, then A1 fusion, top-k,
    * A4 grouping. Candidate filters apply as a semi-join on the scored
    * ids (top-k-bounded), mirroring the reference's post-scoring subset
    * path. */
  def panelIndexed(
      index: Lexical.MultiSparseIndex,
      channels: Map[String, Seq[String]],
      k: Int,
      filters: Filters = Filters()): DataFrame = {
    val spark = index.vectors.sparkSession
    val scored = Lexical
      .tfidfSearchMultiIndexed(spark, index, channels.toSeq.sortBy(_._1))
      .select(col("ch"), col("id"), round(col("score"), 6).as("score"))
    // single channel passes through UNNORMALIZED, matching [[panel]] and
    // the reference (combine_utils.py:36-37) — min-max-normalizing one
    // channel would rescale every score to ~[0,1]
    val fusedScores =
      if (channels.sizeIs == 1) scored.drop("ch")
      else Fusion.fuseByAdditionKeyed(scored)
    grouped(fusedScores
      .join(candidates(filters).select(col("id")), Seq("id"), "left_semi")
      .withColumn("score", round(col("score"), 6))
      .orderBy(col("score").desc, col("id"))
      .limit(k), k)
  }

  /** §3.2 /panel from RAW query strings: each channel's query text runs
    * through the [[QueryPreprocessor]] stage (C8 translation / C9
    * spell-correction seam), is tokenized with the vectorizer's `\w+`
    * analyzer (driver-side — query strings are tiny, matching the
    * reference's serving thread), then scored by [[panel]]. */
  def panelQuery(
      channelDocs: DataFrame,
      channelQueries: Map[String, String],
      k: Int,
      filters: Filters = Filters()): DataFrame =
    panel(channelDocs,
      channelQueries.map { case (ch, q) =>
        ch -> raw"\w+".r.findAllIn(preprocess(q).toLowerCase).toSeq
      }, k, filters)

  /** §3.3 /feedback: Rocchio-style rerank of previous results. */
  def feedback(
      prevScores: DataFrame, // (id, score)
      posIds: Seq[Long], negIds: Seq[Long]): DataFrame = {
    val emb = corpus.embeddings.select(col("id"), col("clip"))
    val votes = emb.filter(col("id").isin(posIds: _*))
      .select(lit(1.0).as("sign"), col("clip").as("ve"))
      .unionByName(emb.filter(col("id").isin(negIds: _*))
        .select(lit(-1.0).as("sign"), col("clip").as("ve")))
    // the rerank candidate list is request-sized by contract (the
    // previous result page — the reference receives it IN the request
    // payload, app.py:291-301): collect it and push a LITERAL id
    // predicate into the embedding scan, so the reader prunes row
    // groups instead of decoding the whole d-float column per request
    val prevRows = prevScores.filter(!col("id").isin(negIds: _*)) // (.299-301)
      .select(col("id").cast("long"), col("score").cast("double")).collect()
    val prevLit = emb.sparkSession.createDataFrame(
      java.util.Arrays.asList(prevRows: _*),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("score",
          org.apache.spark.sql.types.DoubleType))))
    val cand = emb
      .filter(col("id").isin(prevRows.map(_.getLong(0)).toSeq: _*))
      .join(broadcast(prevLit), Seq("id"))
      .select(col("id"), col("score"), col("clip").as("embedding"))
    Similarity.feedbackRerank(cand, votes, idCol = "id")
      .orderBy(col("score").desc, col("id"))
  }

  /** T2 /getvideoshot: the ±window shot neighborhood of one video. */
  def videoShots(videoId: String, selected: Int, window: Int = 5): DataFrame =
    corpus.shots.filter(col("video_id") === videoId &&
      abs(col("shot_id") - selected) <= window)

  /** T3 /relatedimg: all keyframes of the hit's shot, minus the hit. */
  def relatedImages(id: Long): DataFrame = {
    val hit = corpus.keyframes.filter(col("id") === id)
      .select(col("video_id"), col("shot_id"))
    corpus.keyframes.join(broadcast(hit), Seq("video_id", "shot_id"))
      .filter(col("id") =!= id)
  }

  /** Similarity-RADIUS related items: every corpus item whose similarity
    * to `imgId`'s vector reaches `minScore` — the /relatedimg shape
    * without a fixed k (the right contract when "related" is a threshold,
    * not a count: a near-duplicate burst returns them all, an isolated
    * item returns none instead of k strangers). Serves through
    * [[Similarity.ivfRangeSearchPruned]] when the index carries the radii
    * artifact (cells whose Cauchy-Schwarz bound falls below the threshold
    * are provably hitless and never scanned), falling back to the flat
    * threshold scan; either way results are EXACT, filtered to the
    * request's candidate set and group-shaped like every facade search. */
  def relatedByRadius(
      index: Similarity.DenseIndex,
      imgId: Long,
      minScore: Double,
      filters: Filters = Filters(),
      vecCol: String = "clip"): DataFrame = {
    val qv = corpus.embeddings.filter(col("id") === imgId)
      .select(col(vecCol).as("qv"))
    val hits = index.radii match {
      case Some(r) => Similarity.ivfRangeSearchPruned(
        index.cells, index.centroids, r, qv, minScore,
        idCol = "id", vecCol = vecCol)
      case None => Similarity.rangeSearch(
        index.cells, qv, minScore, idCol = "id", vecCol = vecCol)
    }
    GroupShaping.groupResults(
      hits.join(candidates(filters).select("id", "video_id"), Seq("id")),
      groupCol = "video_id", idCol = "id", scoreCol = "score")
  }

  /** T1 /textsearch with filtervideo: expand previous hits' shots by
    * `range` ordinals (mode 1 forwards / 2 backwards), re-score candidates,
    * order groups by prev+cur combined score (`search_utils.py:96-221`). */
  def temporalRequery(
      prevHits: DataFrame, // (id, score)
      queryVec: Array[Float], k: Int, range: Int, forwards: Boolean = true): DataFrame = {
    requireDim(queryVec, clipDim, "clip")
    val hitShots = broadcast(prevHits).join(corpus.keyframes, Seq("id"))
      .select(col("video_id"), col("shot_id"), col("score").as("prev_score"))
      .groupBy(col("video_id"), col("shot_id"))
      .agg(max(col("prev_score")).as("prev_score"))
    val (lo, hi) = if (forwards) (1, range) else (-range, -1)
    val neighbor = hitShots.select(col("video_id"), col("prev_score"),
      explode(sequence(col("shot_id") + lo, col("shot_id") + hi)).as("shot_id"))
    val candIds = corpus.shots.join(broadcast(neighbor), Seq("video_id", "shot_id"))
      .select(explode(col("keyframe_ids")).as("id"), col("prev_score"))
      .groupBy(col("id")).agg(max(col("prev_score")).as("prev_score"))
    // collect the candidate list — it is REQUEST-bounded by construction
    // (the hits' ±range shot neighborhoods, the same driver-scale class
    // as the coarse probe) — so the re-score scan carries a LITERAL id
    // predicate the parquet reader prunes row groups with, instead of
    // decoding the full d-float embedding column per request (measured:
    // 3 GB/request at 1M x d=768, the flagship mix's straggler)
    val candRows = candIds.collect()
    val spark = corpus.embeddings.sparkSession
    val candLit = spark.createDataFrame(
      java.util.Arrays.asList(candRows: _*), candIds.schema)
    val scored = corpus.embeddings
      .filter(col("id").isin(candRows.map(_.getLong(0)).toSeq: _*))
      .join(broadcast(candLit), Seq("id"))
      .withColumn("qv", lit(queryVec))
      .select(col("id"), col("prev_score"),
        round(VectorOps.dot(col("clip"), col("qv")), 6).as("score"))
      .orderBy(col("score").desc, col("id")).limit(k)
      .withColumn("combined", col("score") + col("prev_score"))
    scored.join(corpus.keyframes.select("id", "video_id"), Seq("id"))
      .orderBy(col("combined").desc, col("id"))
  }

  /** §3 /getrec (reference `app.py:408-415` -> `tag_retrieval.py:49-57`):
    * tag recommendation by dense k-NN over the embedded tag VOCABULARY.
    * `tagVocab` = (`term` STRING, `embedding` ARRAY<FLOAT>) — the engine's
    * analog of the reference's `tag_corpus.txt` + `tag_embedding.bin`
    * artifacts (hundreds of rows; the scan side of the plan, with the query
    * a broadcast literal, exactly like every dense search). Returns the k
    * nearest tags to the (post-encoding) query vector, best first. */
  def recommendTags(tagVocab: DataFrame, queryVec: Array[Float], k: Int): DataFrame = {
    val dim = tagVocab.select(size(col("embedding"))).head.getInt(0)
    requireDim(queryVec, dim, "tag-vocabulary")
    tagVocab
      .withColumn("qv", lit(queryVec))
      .select(col("term"), round(VectorOps.dot(col("embedding"), col("qv")), 6).as("score"))
      .orderBy(col("score").desc, col("term"))
      .limit(k)
  }

  /** Speech/ASR search (reference `speech_retrieval.py:71-110`): the
    * SEMANTIC channel scores transcript segments dense against the query
    * vector, keeps the `segTopK` best and scatter-sums them to their parent
    * documents (the A5 ASR bridge — a segment hit votes for its video);
    * the KEYWORD channel scores the transcripts' FITTED tf-idf index
    * (term-pruned artifact reads, never a corpus scan), with the raw query
    * string run through the [[QueryPreprocessor]] stage (C8/C9) and `\w+`
    * tokenized exactly like [[panelQuery]]. Channels min-max fuse by
    * addition — the reference's `merge_searching_results_by_addition` of
    * semantic + keyword. `segments` = (`seg_id` LONG, `doc_id` LONG,
    * `embedding` ARRAY<FLOAT>). Returns (`id`, `score`), best first. */
  def speechSearch(
      segments: DataFrame,
      transcripts: Lexical.SparseIndex,
      queryVec: Array[Float],
      keywordQuery: String,
      k: Int,
      segTopK: Int = 100): DataFrame = {
    val dim = segments.select(size(col("embedding"))).head.getInt(0)
    requireDim(queryVec, dim, "speech-segment")
    val spark = segments.sparkSession
    val segTop = segments
      .withColumn("qv", lit(queryVec))
      .select(col("seg_id"), col("doc_id"),
        round(VectorOps.dot(col("embedding"), col("qv")), 4).as("score"))
      .orderBy(col("score").desc, col("seg_id"))
      .limit(segTopK)
    val chDense = segTop
      .groupBy(col("doc_id"))
      .agg(sum(col("score").cast("decimal(18,6)")).cast("double").as("score"))
      .select(col("doc_id").as("id"), round(col("score"), 6).as("score"))
    val terms = raw"\w+".r.findAllIn(preprocess(keywordQuery).toLowerCase).toSeq
    val chSparse = Lexical.tfidfSearchIndexed(spark, transcripts, terms)
      .select(col("id"), round(col("score"), 6).as("score"))
    Fusion.fuseByAddition(Seq(chDense, chSparse))
      .select(col("id"), round(col("score"), 6).as("score"))
      .orderBy(col("score").desc, col("id"))
      .limit(k)
  }
}
