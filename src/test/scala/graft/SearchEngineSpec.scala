package graft

import graft.api.{Corpus, Filters, SearchEngine}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Drives the §3 endpoint facade over the FIXTURES.md §A domain fixture. */
class SearchEngineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import DomainFixture._

  private lazy val corpus: Corpus = {
    import spark.implicits._
    val kf = kfs.map(k => (k.id, k.collection, k.videoId, k.shotId, k.partitionTag))
      .toDF("id", "collection", "video_id", "shot_id", "partition_tag")
    val emb = kfs.map(k => (k.id, vec(k), vec(k).reverse)).toDF("id", "clip", "clipv2")
    val sh = kfs.groupBy(k => (k.videoId, k.shotId)).toSeq
      .map { case ((v, s), ks) => (v, s, ks.map(_.id).sorted) }
      .toDF("video_id", "shot_id", "keyframe_ids")
    Corpus(kf, emb, sh)
  }
  private lazy val engine = new SearchEngine(corpus)

  test("textSearch returns grouped results honoring filters") {
    val q = vec(kfs(3))
    val res = engine.textSearch(q, k = 12,
      Filters(partitionTag = Some(2), ignoreIds = Seq(60L))).collect()
    assert(res.nonEmpty)
    val ids = res.flatMap(_.getSeq[Long](2))
    assert(ids.nonEmpty)
    // ignored keyframe's whole shot is gone; partition filter held
    val ignShot = kfs.find(_.id == 60L).map(k => (k.videoId, k.shotId)).get
    assert(ids.forall(i => (kfs(i.toInt).videoId, kfs(i.toInt).shotId) != ignShot))
    assert(ids.forall(i => kfs(i.toInt).partitionTag == 2))
  }

  test("dual-model textSearch fuses both channels") {
    val q = vec(kfs(3))
    val res = engine.textSearch(q, k = 10, queryVec2 = Some(q.reverse)).collect()
    assert(res.nonEmpty)
    // fused scores can exceed 1 (sum of two normalized channels)
    assert(res.map(_.getDouble(1)).max > 1.0)
  }

  test("feedback boosts positively-voted neighborhoods and drops neg votes") {
    import spark.implicits._
    val prev = Seq((10L, 0.9), (11L, 0.8), (12L, 0.7)).toDF("id", "score")
    val res = engine.feedback(prev, posIds = Seq(10L), negIds = Seq(12L))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(!res.contains(12L))
    assert(res(10L) > 0.9) // self-dot of the positive vote adds ~1
  }

  test("videoShots slices the +-window; relatedImages excludes the hit") {
    val vs = engine.videoShots("L21_V001", selected = 2, window = 1)
      .select("shot_id").collect().map(_.getInt(0)).sorted
    assert(vs.toSeq === Seq(1, 2, 3))
    val rel = engine.relatedImages(7L).select("id").collect().map(_.getLong(0))
    val hit = kfs(7)
    val want = kfs.filter(k => k.videoId == hit.videoId && k.shotId == hit.shotId &&
      k.id != 7L).map(_.id)
    assert(rel.sorted.toSeq === want.sorted)
  }

  test("relatedByRadius: radius-pruned facade == flat threshold fallback, exact") {
    // the pruned path (index carries radii) must equal the flat fallback
    // (radii stripped) at every threshold — the facade-level form of the
    // RangeSearchSpec bound guarantee
    for (tau <- Seq(0.1, 0.5, 0.9)) {
      val pruned = engine.relatedByRadius(clipIndex, 7L, tau)
        .collect().map(_.toString).sorted.toSeq
      val flat = engine.relatedByRadius(clipIndex.copy(radii = None), 7L, tau)
        .collect().map(_.toString).sorted.toSeq
      assert(pruned === flat, s"pruned != flat at minScore=$tau")
    }
    // a reachable threshold includes the probe item's own group; an
    // unreachable one returns empty instead of k strangers
    val some = engine.relatedByRadius(clipIndex, 7L, 0.1).collect()
    assert(some.flatMap(_.getSeq[Long](2)).contains(7L))
    assert(engine.relatedByRadius(clipIndex, 7L, 1e9).collect().isEmpty)
  }

  test("panel fuses grid-token and tag channels over filtered candidates") {
    import spark.implicits._
    // synthesize channel texts: bbox tokens from the kf's shot, tags by parity
    val chDocs = kfs.map { k =>
      val cell = graft.functions.GridEncoding.cells(k.id.toInt % 49)._1
      (k.id, s"${cell}person ${cell}car", if (k.id % 2 == 0) "dog grass" else "cat sky")
    }.toDF("id", "bbox_text", "tag_text")
    val queryBox = graft.functions.GridEncoding.encodeBoxes(Seq(
      (graft.functions.GridEncoding.Box(0, 0, 0.3, 0.3), "person"))).split(" ").toSeq
    val res = engine.panel(chDocs,
      Map("bbox_text" -> queryBox, "tag_text" -> Seq("dog")),
      k = 15, Filters(partitionTag = Some(1))).collect()
    assert(res.nonEmpty)
    val ids = res.flatMap(_.getSeq[Long](2))
    assert(ids.forall(i => kfs(i.toInt).partitionTag == 1))
  }

  test("panelIndexed == panel on the same channels (fitted-index facade path)") {
    import spark.implicits._
    val chDocs = kfs.map { k =>
      val cell = graft.functions.GridEncoding.cells(k.id.toInt % 49)._1
      (k.id, s"${cell}person ${cell}car", if (k.id % 2 == 0) "dog grass" else "cat sky")
    }.toDF("id", "bbox_text", "tag_text")
    val dir = java.nio.file.Files.createTempDirectory("graft_panel_idx").toString
    val index = graft.operators.Lexical.writeMultiIndex(spark, Seq(
      ("bbox_text", chDocs, "id", "bbox_text"),
      ("tag_text", chDocs, "id", "tag_text")), dir, buckets = 2)
    val queryBox = graft.functions.GridEncoding.encodeBoxes(Seq(
      (graft.functions.GridEncoding.Box(0, 0, 0.3, 0.3), "person"))).split(" ").toSeq
    val channels = Map("bbox_text" -> queryBox, "tag_text" -> Seq("dog"))
    // UNFILTERED, both paths see the whole corpus -> identical results.
    // (Under filters they differ by design: the fitted index keeps
    // corpus-wide idf and subsets AFTER scoring, like the reference's
    // fitted vectorizer; the raw-docs path refits over the subset.)
    val viaIndex = engine.panelIndexed(index, channels, k = 15)
      .collect().map(_.toString).sorted
    val viaDocs = engine.panel(chDocs, channels, k = 15)
      .collect().map(_.toString).sorted
    assert(viaIndex.nonEmpty)
    assert(viaIndex.toSeq === viaDocs.toSeq)
    // filters still restrict the indexed path's results
    val filtered = engine.panelIndexed(index, channels, k = 15, Filters(partitionTag = Some(1)))
      .collect().flatMap(_.getSeq[Long](2))
    assert(filtered.nonEmpty)
    assert(filtered.forall(i => kfs(i.toInt).partitionTag == 1))
  }

  test("panelQuery routes raw query text through the preprocessor chain (C8/C9 seam)") {
    import graft.api.QueryPreprocessor
    import spark.implicits._
    val chDocs = kfs.map { k =>
      (k.id, if (k.id % 2 == 0) "dog grass" else "cat sky")
    }.toDF("id", "tag_text")
    // stub vi->en translator + stub spell corrector, chained in the
    // reference's translate-then-correct order
    val translate: QueryPreprocessor.Stage = _.replace("chó", "dgo")
    val spell: QueryPreprocessor.Stage = _.replace("dgo", "dog")
    val engine2 = new SearchEngine(corpus, QueryPreprocessor.chain(translate, spell))
    val viaRaw = engine2.panelQuery(chDocs, Map("tag_text" -> "Chó!".toLowerCase), k = 10)
      .collect().map(_.toString).sorted
    val viaTerms = engine.panel(chDocs, Map("tag_text" -> Seq("dog")), k = 10)
      .collect().map(_.toString).sorted
    assert(viaRaw.nonEmpty)
    assert(viaRaw.toSeq === viaTerms.toSeq)
    // identity default: the raw Vietnamese query finds nothing (no
    // translation stage interposed)
    assert(engine.panelQuery(chDocs, Map("tag_text" -> "chó"), k = 10).collect().isEmpty)
  }

  test("imageSearch seeds from the stored embedding: top hit is the query id") {
    val res = engine.imageSearch(imgId = 5L, k = 10).collect()
    assert(res.nonEmpty)
    // groups are best-score-first; the stored query vector matches itself
    // with cosine 1.0, so id 5 leads the first group
    val firstIds = res.head.getSeq[Long](2)
    assert(firstIds.head === 5L)
  }

  test("wrong-dim query vectors are refused at the facade (encoder-dim guard)") {
    import spark.implicits._
    // reference faiss_processing.py:133-151 guards encoder/index dim
    // mismatch; a wrong-dim vector must throw, not silently mis-score
    assertThrows[IllegalArgumentException] { engine.textSearch(Array(1f, 2f), k = 5) }
    assertThrows[IllegalArgumentException] {
      engine.textSearch(vec(kfs(0)), k = 5, queryVec2 = Some(Array(1f)))
    }
    val prev = Seq((7L, 0.9)).toDF("id", "score")
    assertThrows[IllegalArgumentException] {
      engine.temporalRequery(prev, Array(1f), k = 5, range = 2)
    }
  }

  test("recommendTags returns the k nearest tags to the query vector (/getrec)") {
    import spark.implicits._
    val vocab = Seq(
      ("dog", vec(kfs(3))), ("cat", vec(kfs(10))),
      ("sky", vec(kfs(20))), ("grass", vec(kfs(30)))).toDF("term", "embedding")
    val got = engine.recommendTags(vocab, vec(kfs(3)), k = 2).collect()
    assert(got.length === 2)
    assert(got.head.getString(0) === "dog") // self-similar tag leads
    assert(got.head.getDouble(1) > got(1).getDouble(1))
    assertThrows[IllegalArgumentException] {
      engine.recommendTags(vocab, Array(1f, 2f), k = 2)
    }
  }

  test("speechSearch fuses the dense segment channel with the keyword transcript channel") {
    import spark.implicits._
    // 3 docs x 4 segments; doc 1's segments all align with the query
    val q = vec(kfs(7))
    val segs = (0L until 12L).map { sid =>
      val doc = sid / 4
      (sid, doc, if (doc == 1L) q else vec(kfs((doc * 13 + sid).toInt % kfs.size)))
    }.toDF("seg_id", "doc_id", "embedding")
    val transcripts = Seq(
      (0L, "weather report sunny skies"), (1L, "dog chases ball in park"),
      (2L, "stock market news today")).toDF("id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_speech_idx").toString
    val index = graft.operators.Lexical.writeIndex(spark, transcripts, "id", "text", dir, buckets = 2)
    val res = engine.speechSearch(segs, index, q, "Dog park!", k = 3).collect()
    assert(res.nonEmpty)
    assert(res.head.getLong(0) === 1L) // wins both channels
    assertThrows[IllegalArgumentException] {
      engine.speechSearch(segs, index, Array(0f), "dog", k = 3)
    }
  }

  /** Fitted dense index over one embedding channel of THIS corpus — the
    * facade's ANN-mode artifact ([[graft.operators.Similarity.kmeansFit]] +
    * assignCells + cell-partitioned write, read back like production). The
    * PQ legs are not used by the exact-rescore facade path. */
  private def buildIndex(vecCol: String): graft.operators.Similarity.DenseIndex = {
    import graft.operators.Similarity
    val dir = java.nio.file.Files.createTempDirectory(s"graft_ann_$vecCol").toString
    val emb = corpus.embeddings.select(col("id"), col(vecCol))
    val cents = Similarity.kmeansFit(emb, k = 4, iters = 2, idCol = "id", vecCol = vecCol)
    cents.coalesce(1).write.parquet(s"$dir/centroids")
    cents.unpersist()
    val centroids = spark.read.parquet(s"$dir/centroids")
    graft.sources.Store.writePartitioned(
      Similarity.assignCells(corpus.embeddings, centroids, vecCol = vecCol),
      s"$dir/cells", "cluster")
    val cells = spark.read.parquet(s"$dir/cells")
    Similarity.cellRadii(cells, centroids, vecCol)
      .coalesce(1).write.parquet(s"$dir/radii")
    Similarity.DenseIndex(centroids, cells,
      spark.emptyDataFrame, spark.emptyDataFrame,
      radii = Some(spark.read.parquet(s"$dir/radii")))
  }
  private lazy val clipIndex = buildIndex("clip")
  private lazy val clipv2Index = buildIndex("clipv2")

  test("an omitted nprobe resolves to the index's PERSISTED calibrated default") {
    val q = vec(kfs(3))
    // an index carrying defaultNprobe = full probe: the no-nprobe call
    // must serve exactly like the exact path (proof the persisted value,
    // not the hardcoded fallback of 2, drove the probe)
    val calibrated = clipIndex.copy(defaultNprobe = Some(4))
    val viaDefault = engine.textSearchAnn(calibrated, q, k = 12)
      .collect().map(_.toString).sorted
    val exact = engine.textSearch(q, k = 12).collect().map(_.toString).sorted
    assert(viaDefault.nonEmpty)
    assert(viaDefault.toSeq === exact.toSeq)
    // an index without a persisted default keeps the old fallback (2):
    // partial probe, so the no-nprobe call may legitimately differ —
    // assert only that it serves
    assert(engine.textSearchAnn(clipIndex, q, k = 12).collect().nonEmpty)
  }

  test("textSearchAnnBinary: full probe + kCoarse >= corpus == textSearch; calibrated default drives") {
    import graft.operators.Similarity
    val q = vec(kfs(3))
    val n = corpus.embeddings.count().toInt
    val binStore = Similarity.binaryEncodeCells(clipIndex.cells,
      idCol = "id", vecCol = "clip")
    val idx = clipIndex.copy(binary = Some(binStore),
      defaultNprobe = Some(4), defaultKCoarseBq = Some(n))
    // the deepest knobs degenerate to the exact path, filters and all —
    // and the OMITTED kCoarse proves the persisted calibrated default
    // (here = corpus size) drove the shortlist, not a caller constant
    val filters = Filters(partitionTag = Some(2), ignoreIds = Seq(60L))
    val ann = engine.textSearchAnnBinary(idx, q, k = 12, filters)
      .collect().map(_.toString).sorted
    val exact = engine.textSearch(q, k = 12, filters)
      .collect().map(_.toString).sorted
    assert(ann.nonEmpty)
    assert(ann.toSeq === exact.toSeq)
    // explicit tight kCoarse serves (possibly approximate) results
    assert(engine.textSearchAnnBinary(idx, q, k = 5, kCoarse = Some(12))
      .collect().nonEmpty)
    // guard rails: no store / no calibrated default are loud errors
    assertThrows[RuntimeException] {
      engine.textSearchAnnBinary(clipIndex, q, k = 5)
    }
    assertThrows[RuntimeException] {
      engine.textSearchAnnBinary(idx.copy(defaultKCoarseBq = None), q, k = 5)
    }
  }

  /** PQ leg over a fitted index: codebooks trained on this corpus channel,
    * codes encoded from the CELL store with the cluster carried through —
    * the [[Similarity.buildDenseIndex]] artifact shape at facade column
    * conventions (id / clip / clipv2). */
  private def withPq(base: graft.operators.Similarity.DenseIndex,
                     vecCol: String): graft.operators.Similarity.DenseIndex = {
    import graft.operators.Similarity
    val emb = corpus.embeddings.select(col("id"), col(vecCol))
    val cb = Similarity.pqRefineCodebooks(emb,
      Similarity.pqCodebooks(emb, numSub = 4, subDim = 2, numCentroids = 16,
        idCol = "id", vecCol = vecCol),
      numSub = 4, subDim = 2, iters = 1, idCol = "id", vecCol = vecCol)
    val codes = Similarity.pqEncode(base.cells, cb, numSub = 4, subDim = 2,
      idCol = "id", vecCol = vecCol, carry = Seq("cluster"))
    base.copy(codebooks = cb, codes = codes, numSub = 4, subDim = 2)
  }

  test("textSearchAnnPq: full probe + kCoarse >= corpus == textSearch; shortlist parity with ivfPqRefineSearch") {
    import graft.operators.Similarity
    val q = vec(kfs(3))
    val n = corpus.embeddings.count().toInt
    val idx = withPq(clipIndex, "clip").copy(defaultNprobe = Some(4))
    // deepest knobs degenerate to the exact path, filters and all — the
    // ADC shortlist covers every admissible probed row, so the exact
    // refine IS the exact search
    val filters = Filters(partitionTag = Some(2), ignoreIds = Seq(60L))
    val ann = engine.textSearchAnnPq(idx, q, k = 12, filters,
        kCoarse = Some(n))
      .collect().map(_.toString).sorted
    val exact = engine.textSearch(q, k = 12, filters)
      .collect().map(_.toString).sorted
    assert(ann.nonEmpty)
    assert(ann.toSeq === exact.toSeq)
    // facade recall == operator-level row: at a TIGHT kCoarse the facade
    // serves the same candidate ids as ivfPqRefineSearch on the same
    // artifacts (same probe, same ADC shortlist, same exact refine)
    val kc = 24
    val facadeIds = engine.textSearchAnnPq(idx, q, k = 10, kCoarse = Some(kc))
      .collect().flatMap(_.getSeq[Long](2)).toSet
    val qDf = spark.range(1).select(lit(q).as("qv"))
    val opIds = Similarity.ivfPqRefineSearch(
        idx.cells, idx.codes, idx.codebooks, idx.centroids, qDf,
        nprobe = 4, kCoarse = kc, k = 10, numSub = 4, subDim = 2,
        idCol = "id", vecCol = "clip")
      .collect().map(_.getLong(0)).toSet
    assert(facadeIds === opIds,
      s"facade PQ ids $facadeIds != operator ids $opIds")
    // guard rail: an index without a codes store is a loud error
    assertThrows[IllegalArgumentException] {
      engine.textSearchAnnPq(clipIndex, q, k = 5)
    }
  }

  /** The clip index with both quantized tiers: PQ codes plus the binary
    * signature store, its calibrated kCoarse at corpus size. */
  private lazy val quantizedIndex = withPq(clipIndex, "clip").copy(
    binary = Some(graft.operators.Similarity.binaryEncodeCells(clipIndex.cells,
      idCol = "id", vecCol = "clip")),
    defaultKCoarseBq = Some(kfs.size))

  test("ANN endpoints refuse a zero nprobe or k by name") {
    val q = vec(kfs(3))
    val calls: Seq[(String, (Option[Int], Int) => Any)] = Seq(
      "textSearchAnn" -> ((np, k) => engine.textSearchAnn(quantizedIndex, q, k, nprobe = np)),
      "imageSearchAnn" -> ((np, k) => engine.imageSearchAnn(quantizedIndex, 3L, k, nprobe = np)),
      "textSearchAnnBinary" ->
        ((np, k) => engine.textSearchAnnBinary(quantizedIndex, q, k, nprobe = np)),
      "textSearchAnnPq" -> ((np, k) => engine.textSearchAnnPq(quantizedIndex, q, k, nprobe = np)))
    for ((name, call) <- calls) {
      val np0 = intercept[IllegalArgumentException](call(Some(0), 5))
      assert(np0.getMessage.contains("nprobe must be positive"), s"$name: ${np0.getMessage}")
      val k0 = intercept[IllegalArgumentException](call(Some(4), 0))
      assert(k0.getMessage.contains("k must be positive"), s"$name: ${k0.getMessage}")
    }
  }

  test("binary and PQ facades at kCoarse = k under a tight filter serve every admissible probed row up to k") {
    import graft.operators.Similarity
    val q = vec(kfs(3))
    val k = 5
    val nprobe = 3
    val qDf = spark.range(1).select(lit(q).as("qv"))
    val probed = Similarity.probe(clipIndex.centroids, None, Similarity.singleQuery(qDf),
      None, nprobe).flatMap(_._2)
    assert(probed.size === nprobe)
    val cellOf = clipIndex.cells.select("id", "cluster").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    // admit rows of ONE probed cell only (the query's own best cell and the
    // other probed cell are fully excluded) plus rows the probe never reaches
    val keptCell = probed.tail.maxBy(c => cellOf.count(_._2 == c))
    val kept = cellOf.collect { case (id, c) if c == keptCell => id }.toSeq.sorted
    assert(kept.size > k, s"cell $keptCell holds ${kept.size} rows")
    val unprobed = cellOf.collect { case (id, c) if !probed.contains(c) => id }.toSeq
    for (allow <- Seq(kept.take(3), kept)) {
      val filters = Filters(ids = Some(allow ++ unprobed))
      val want = math.min(k, allow.size)
      val binIds = engine.textSearchAnnBinary(quantizedIndex, q, k, filters,
          nprobe = Some(nprobe), kCoarse = Some(k))
        .collect().flatMap(_.getSeq[Long](2)).toSeq
      val pqIds = engine.textSearchAnnPq(quantizedIndex, q, k, filters,
          nprobe = Some(nprobe), kCoarse = Some(k))
        .collect().flatMap(_.getSeq[Long](2)).toSeq
      for ((path, ids) <- Seq("binary" -> binIds, "PQ" -> pqIds)) {
        assert(ids.size === want, s"$path served ${ids.size} rows, want $want of ${allow.size}")
        assert(ids.forall(allow.contains), s"$path served a row outside the admissible probed rows: $ids")
      }
    }
  }

  test("dual-model textSearchAnnPq fuses two quantized channels") {
    val q = vec(kfs(3))
    val idx1 = withPq(clipIndex, "clip").copy(defaultNprobe = Some(4))
    val idx2 = withPq(clipv2Index, "clipv2").copy(defaultNprobe = Some(4))
    val res = engine.textSearchAnnPq(idx1, q, k = 10,
      queryVec2 = Some(q.reverse), index2 = Some(idx2)).collect()
    assert(res.nonEmpty)
    // min-max fused scores can exceed 1 (sum of two normalized channels)
    assert(res.map(_.getDouble(1)).max > 1.0)
    // missing second index is a loud error
    assertThrows[IllegalArgumentException] {
      engine.textSearchAnnPq(idx1, q, k = 5, queryVec2 = Some(q.reverse))
    }
  }

  test("textSearchAnn at full probe == textSearch, filters and all; partial probe prunes") {
    val q = vec(kfs(3))
    val filters = Filters(partitionTag = Some(2), ignoreIds = Seq(60L))
    val ann = engine.textSearchAnn(clipIndex, q, k = 12, filters, nprobe = Some(4))
      .collect().map(_.toString).sorted
    val exact = engine.textSearch(q, k = 12, filters)
      .collect().map(_.toString).sorted
    assert(ann.nonEmpty)
    assert(ann.toSeq === exact.toSeq)
    // partial probe: the serving plan scans only the probed cells'
    // partitions — a literal PartitionFilters predicate, and the candidate
    // filters coexist with it instead of defeating it
    val plan = engine.textSearchAnn(clipIndex, q, k = 12, filters, nprobe = Some(1))
      .queryExecution.executedPlan.toString()
    assert(plan.contains("PartitionFilters: [isnotnull(cluster"),
      s"no partition pruning on the cells scan:\n$plan")
  }

  test("hierarchy-carrying index serves two-level through the facade (full probe == exact)") {
    import graft.operators.Similarity
    val q = vec(kfs(3))
    val dir = java.nio.file.Files.createTempDirectory("graft_ann_hier").toString
    val (l1, l2) = Similarity.buildCoarseHierarchy(clipIndex.centroids, dir)
    val groups = l1.count().toInt
    // full L1 probe + full nprobe: the two-level facade path must equal
    // the exact corpus scan, filters and all — the dispatch (index.l1/l2
    // present -> two-level Similarity.probe) proven on results, not plan shape
    val idx = clipIndex.copy(l1 = Some(l1), l2 = Some(l2),
      defaultNprobeL1 = Some(groups), defaultNprobe = Some(4))
    val filters = Filters(partitionTag = Some(2), ignoreIds = Seq(60L))
    val ann = engine.textSearchAnn(idx, q, k = 12, filters)
      .collect().map(_.toString).sorted
    val exact = engine.textSearch(q, k = 12, filters)
      .collect().map(_.toString).sorted
    assert(ann.nonEmpty)
    assert(ann.toSeq === exact.toSeq)
    // partial L1 probe: the facade's in-process L1 cache + pruned L2
    // rank must pick EXACTLY the operator-level two-level probe's cells
    // — pinned by composing the expected result from the operator probe
    // through the same score/group shape annChannel serves
    val partial = idx.copy(defaultNprobeL1 = Some(1))
    val got = engine.textSearchAnn(partial, q, k = 5, nprobe = Some(2))
      .collect().map(_.toString).sorted
    assert(got.nonEmpty)
    val spark2 = clipIndex.cells.sparkSession
    val qDf = spark2.range(1).select(lit(q).as("qv"))
    val probed = Similarity.probe(clipIndex.centroids, Some((l1, l2)),
      Similarity.singleQuery(qDf), nprobeL1 = Some(1), nprobe = 2).flatMap(_._2)
    val scored = clipIndex.cells.filter(col("cluster").isin(probed: _*))
      .withColumn("qv", lit(q))
      .select(col("id"),
        round(graft.functions.VectorOps.dot(col("clip"), col("qv")), 6)
          .as("score"))
      .join(corpus.keyframes.select("id", "video_id"), Seq("id"))
      .select(col("id"), col("video_id"), col("score"))
      .orderBy(col("score").desc, col("id"))
      .limit(5)
    val want = graft.operators.GroupShaping.groupResults(
        scored.withColumn("score", round(col("score"), 6)),
        groupCol = "video_id", idCol = "id", scoreCol = "score")
      .collect().map(_.toString).sorted
    assert(got.toSeq === want.toSeq)
    // imgsearch rides the same dispatch
    assert(engine.imageSearchAnn(idx, imgId = 3L, k = 5).collect().nonEmpty)
  }

  test("dual-model textSearchAnn fuses two index-backed channels (full probe == exact)") {
    val q = vec(kfs(3))
    val ann = engine.textSearchAnn(clipIndex, q, k = 10, nprobe = Some(4),
      queryVec2 = Some(q.reverse), index2 = Some(clipv2Index))
      .collect().map(_.toString).sorted
    val exact = engine.textSearch(q, k = 10, queryVec2 = Some(q.reverse))
      .collect().map(_.toString).sorted
    assert(ann.nonEmpty)
    assert(ann.toSeq === exact.toSeq)
    // dual-model ANN without the second channel's index is a caller error
    assertThrows[IllegalArgumentException] {
      engine.textSearchAnn(clipIndex, q, k = 10, queryVec2 = Some(q.reverse))
    }
    // and the dim guard still runs in ANN mode
    assertThrows[IllegalArgumentException] {
      engine.textSearchAnn(clipIndex, Array(1f, 2f), k = 5)
    }
  }

  test("imageSearchAnn at full probe == imageSearch (query-by-id against the index)") {
    val ann = engine.imageSearchAnn(clipIndex, imgId = 5L, k = 10, nprobe = Some(4))
      .collect().map(_.toString).sorted
    val exact = engine.imageSearch(imgId = 5L, k = 10)
      .collect().map(_.toString).sorted
    assert(ann.nonEmpty)
    assert(ann.toSeq === exact.toSeq)
    // the stored query vector still matches itself first
    val first = engine.imageSearchAnn(clipIndex, imgId = 5L, k = 10, nprobe = Some(4))
      .collect().head.getSeq[Long](2)
    assert(first.head === 5L)
  }

  test("hybridSearch RRF-fuses the ANN dense leg with the BM25 keyword leg") {
    import spark.implicits._
    // per-keyframe texts: only kf 3's text contains the query terms, and the
    // query vector is kf 3's own embedding -> rank 1 in BOTH legs -> fused
    // 2/(60+1), strictly above any single-leg or lower-rank contender
    val docs = kfs.map(kf =>
      (kf.id, if (kf.id == 3L) "dog park sunny" else s"filler words item ${kf.id}"))
      .toDF("id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_hybrid_idx").toString
    val sparseIdx = graft.operators.Lexical.writeIndex(spark, docs, "id", "text", dir, buckets = 2)
    val res = engine.hybridSearch(clipIndex, sparseIdx, vec(kfs(3)), "Dog park!",
      k = 10, nprobe = Some(4)).collect()
    assert(res.nonEmpty)
    val topIds = res.head.getSeq[Long](2)
    assert(topIds.head === 3L)
    assert(math.abs(res.head.getDouble(1) - 2.0 / 61) < 1e-6)
    // per-request candidate filters reach BOTH legs: ignoring kf 3's shot
    // removes it from the dense scan and the keyword postings alike
    val filtered = engine.hybridSearch(clipIndex, sparseIdx, vec(kfs(3)), "Dog park!",
      k = 10, filters = Filters(ignoreIds = Seq(3L)), nprobe = Some(4)).collect()
    val ignShot = (kfs(3).videoId, kfs(3).shotId)
    assert(filtered.flatMap(_.getSeq[Long](2)).forall(i =>
      (kfs(i.toInt).videoId, kfs(i.toInt).shotId) != ignShot))
    // wrong-dim guard holds on the hybrid surface too
    assertThrows[IllegalArgumentException] {
      engine.hybridSearch(clipIndex, sparseIdx, Array(1f, 2f), "dog", k = 5)
    }
  }

  test("temporalRequery searches only the forward shot window") {
    import spark.implicits._
    val prev = Seq((7L, 0.95)).toDF("id", "score")
    val hit = kfs(7)
    val res = engine.temporalRequery(prev, vec(kfs(7)), k = 50, range = 2)
      .select("id").collect().map(_.getLong(0))
    assert(res.nonEmpty)
    assert(res.forall { i =>
      val k = kfs(i.toInt)
      k.videoId == hit.videoId && k.shotId > hit.shotId && k.shotId <= hit.shotId + 2
    })
  }
}
