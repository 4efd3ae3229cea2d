package graft

import graft.operators.{Dedup, Fusion, Lexical}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The shuffle-reduced paths (wide-agg MinHash banding, map-only SRP
  * signatures, keyed fusion, multi-channel tf-idf) must compute EXACTLY the
  * same relation as the simple row-form pipelines they replace — these
  * specs pin that equivalence so future plan tuning can't drift semantics. */
class FusedPathParitySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.collect().map(_.mkString("|")).toSet

  test("minhashBuckets == lshBuckets(minhash) on the same shingles") {
    val docs = (1L to 20L).map { i =>
      (i, (0 to 25).map(k => s"w${(i * 7 + k * k) % 17}").mkString(" "))
    }.toDF("doc_id", "text")
    val sh = Dedup.shingles(docs, "doc_id", "text")
    val slow = Dedup.lshBuckets(Dedup.minhash(sh, 16), 2)
    val fast = Dedup.minhashBuckets(sh, 16, 2)
    assert(rows(fast) === rows(slow))
  }

  test("srpBuckets == lshBuckets(srpBits) on the same embeddings") {
    val dim = 8
    val emb = (1L to 15L).map { i =>
      (i, (0 until dim).map(d => math.sin(i * 31 + d).toFloat))
    }.toDF("vec_id", "embedding")
    val slow = Dedup.lshBuckets(Dedup.srpBits(emb, "vec_id", "embedding", 8, dim), 4)
    val fast = Dedup.srpBuckets(emb, "vec_id", "embedding", 8, 4, dim)
    assert(rows(fast) === rows(slow))
  }

  test("indexed sparse search == raw-docs search (tfidf, ngram-tfidf, bm25, multi)") {
    val docs = (1L to 30L).map { i =>
      (i, (0 to 12).map(k => s"w${(i * 5 + k * 3) % 11}").mkString(" "))
    }.toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft-idx-parity").toString
    val terms = Seq("w1", "w4", "w4", "w7")
    def r6(df: org.apache.spark.sql.DataFrame) =
      rows(df.select(col("id"), round(col("score"), 6).as("s")))

    val uni = Lexical.writeIndex(spark, docs, "doc_id", "text", s"$dir/uni", buckets = 4)
    assert(r6(Lexical.tfidfSearchIndexed(spark, uni, terms)) ===
      r6(Lexical.tfidfSearch(spark, docs, "doc_id", "text", terms)))
    assert(r6(Lexical.bm25SearchIndexed(spark, uni, terms)) ===
      r6(Lexical.bm25Search(spark, docs, "doc_id", "text", terms)))

    val ng = Lexical.writeIndexNgrams(spark, docs, "doc_id", "text", 1, 2, s"$dir/ng", buckets = 4)
    assert(r6(Lexical.tfidfSearchIndexed(spark, ng, Seq("w1", "w1 w4"))) ===
      r6(Lexical.tfidfSearchNgrams(spark, docs, "doc_id", "text", Seq("w1", "w1 w4"), 1, 2)))

    val rev = docs.select(col("doc_id"), reverse(col("text")).as("rtext"))
    val multi = Lexical.writeMultiIndex(spark, Seq(
      ("fwd", docs, "doc_id", "text"), ("rev", rev, "doc_id", "rtext")), s"$dir/multi", buckets = 4)
    val qs = Seq(("fwd", terms), ("rev", Seq("1w", "4w")))
    val fast = Lexical.tfidfSearchMultiIndexed(spark, multi, qs)
      .select(col("ch"), col("id"), round(col("score"), 6).as("s"))
    val slow = Lexical.tfidfSearchMulti(spark, Seq(
      ("fwd", docs, "doc_id", "text", terms),
      ("rev", rev, "doc_id", "rtext", Seq("1w", "4w"))))
      .select(col("ch"), col("id"), round(col("score"), 6).as("s"))
    assert(rows(fast) === rows(slow))
  }

  test("index refreshed from a postings relation scores identically (incremental bridge)") {
    // the IncrementalIndex.updatePostings sink IS a postings relation:
    // writeIndexFromPostings must produce the same fitted index as a
    // from-docs build — no raw-text re-tokenize on refresh
    val docs = (1L to 20L).map { i =>
      (i, (0 to 9).map(k => s"t${(i + k * 7) % 13}").mkString(" "))
    }.toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft-idx-bridge").toString
    val post = Lexical.postings(docs, "doc_id", "text")
    val fromPost = Lexical.writeIndexFromPostings(spark, post, docs.count(), s"$dir/a", buckets = 4)
    val fromDocs = Lexical.writeIndex(spark, docs, "doc_id", "text", s"$dir/b", buckets = 4)
    val terms = Seq("t1", "t5")
    def r6(df: org.apache.spark.sql.DataFrame) =
      rows(df.select(col("id"), round(col("score"), 6).as("s")))
    assert(r6(Lexical.tfidfSearchIndexed(spark, fromPost, terms)) ===
      r6(Lexical.tfidfSearchIndexed(spark, fromDocs, terms)))
    assert(r6(Lexical.bm25SearchIndexed(spark, fromPost, terms)) ===
      r6(Lexical.bm25SearchIndexed(spark, fromDocs, terms)))
  }

  test("knnBatch (bounded aggregator) == per-query ranking window") {
    val dim = 8
    val emb = (1L to 40L).map { i =>
      (i, (0 until dim).map(d => math.cos(i * 13 + d * 5).toFloat))
    }.toDF("vec_id", "embedding")
    val queries = emb.filter(col("vec_id") <= 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val fast = graft.operators.Similarity.knnBatch(emb, queries, 4)
    // reference semantics: full ranking window per query
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("vec_id"))
    val slow = emb.crossJoin(broadcast(queries))
      .select(col("query_id"), col("vec_id"),
        round(graft.functions.VectorOps.dot(col("embedding"), col("qv")), 4).as("sim"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= 4).drop("__rn")
    assert(rows(fast) === rows(slow))
  }

  test("ivfSearchBatchPruned at full probe == exact knnBatch") {
    val emb = Tables(spark, TestSpark.sfDir, "embeddings")
    val queries = emb.filter(col("vec_id").isin(0, 7))
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val cents = graft.operators.Similarity.centroids(emb)
      .withColumnRenamed("label", "cluster")
    val cells = graft.operators.Similarity.assignCells(emb, cents)
    val nClusters = cents.count().toInt
    val full = graft.operators.Similarity
      .ivfSearchBatchPruned(cells, cents, queries, nprobe = nClusters, k = 8)
    val exact = graft.operators.Similarity.knnBatch(emb, queries, k = 8)
    assert(rows(full) === rows(exact))
    // and a partial probe returns a subset of the exact result's rows per
    // query (pruning can only remove candidates, never invent them)
    val part = graft.operators.Similarity
      .ivfSearchBatchPruned(cells, cents, queries, nprobe = 2, k = 8)
    val exactAll = rows(graft.operators.Similarity.knnBatch(emb, queries, k = nClusters * 1000))
    assert(rows(part).subsetOf(exactAll))
  }

  test("pqAdcScore with a query_id batch == independent single-query runs") {
    val dim = 16
    val emb = (0L until 40L).map { i =>
      (i, (0 until dim).map(d => math.sin(i * 7 + d * 3).toFloat))
    }.toDF("vec_id", "embedding")
    val (numSub, subDim, numCent, k) = (4, 4, 8, 5)
    val codebooks = graft.operators.Similarity.pqCodebooks(emb, numSub, subDim, numCent)
    val codes = graft.operators.Similarity.pqEncode(emb, codebooks, numSub, subDim)
    val qbatch = emb.filter(col("vec_id").isin(5, 9))
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val batched = graft.operators.Similarity
      .pqAdcScore(codes, codebooks, qbatch, k, numSub, subDim)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val singly = Seq(5L, 9L).flatMap { qid =>
      graft.operators.Similarity.pqAdcScore(codes, codebooks,
          emb.filter(col("vec_id") === qid).select(col("embedding").as("qv")),
          k, numSub, subDim)
        .collect().map(r => (qid, r.getLong(0), r.getDouble(1)))
    }.toSet
    assert(batched === singly)
  }

  test("fuseByAdditionKeyed == fuseByAddition over the same channels") {
    val ch1 = Seq((1L, 3.0), (2L, 1.0), (3L, 2.0)).toDF("id", "score")
    val ch2 = Seq((2L, 9.0), (3L, 4.0), (4L, 5.0)).toDF("id", "score")
    val tagged = ch1.select(lit("a").as("ch"), col("id"), col("score"))
      .unionByName(ch2.select(lit("b").as("ch"), col("id"), col("score")))
    val slow = Fusion.fuseByAddition(Seq(ch1, ch2))
      .select(col("id"), round(col("score"), 9).as("s"))
    val fast = Fusion.fuseByAdditionKeyed(tagged)
      .select(col("id"), round(col("score"), 9).as("s"))
    assert(rows(fast) === rows(slow))
  }

  test("fuseLegacyL2 keeps the best normalized score per id (max semantics)") {
    val ch1 = Seq((1L, 3.0), (2L, 4.0)).toDF("id", "score")
    val ch2 = Seq((1L, 8.0), (3L, 6.0)).toDF("id", "score")
    val got = Fusion.fuseLegacyL2(Seq(ch1, ch2))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val l1 = math.sqrt(3 * 3 + 4 * 4.0) + 1e-12
    val l2 = math.sqrt(8 * 8 + 6 * 6.0) + 1e-12
    assert(math.abs(got(1L) - math.max(3 / l1, 8 / l2)) < 1e-12)
    assert(math.abs(got(2L) - 4 / l1) < 1e-12)
    assert(math.abs(got(3L) - 6 / l2) < 1e-12)
  }

  test("simhashPairsBanded == all-pairs cross join (pigeonhole exactness)") {
    val docs = Tables(spark, TestSpark.sfDir, "documents")
    val fp = Dedup.simhash(docs, "doc_id", "text")
    val a = fp.select(col("id").as("i"), col("simhash").as("ha"))
    val b = fp.select(col("id").as("j"), col("simhash").as("hb"))
    val slow = a.crossJoin(b).filter(col("i") < col("j"))
      .withColumn("hamming", expr("bit_count(ha ^ hb)").cast("long"))
      .filter(col("hamming") <= 6)
      .select(col("i"), col("j"), col("hamming"))
    val fast = Dedup.simhashPairsBanded(fp)
    assert(rows(fast) === rows(slow))
  }

  test("canonicalIds resolves chains and stars to the component minimum") {
    // components: {1,2,3,4} via chain 1-2, 2-3, 3-4; {10,20} ; singleton via
    // self-contained pair {7,8}
    val pairs = Seq((2L, 3L), (1L, 2L), (3L, 4L), (10L, 20L), (7L, 8L))
      .toDF("i", "j")
    val got = Dedup.canonicalIds(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 20L -> 10L, 7L -> 7L, 8L -> 7L))
  }

  test("canonicalIds converges on a deep chain in O(log diameter) rounds") {
    // a 200-edge chain has diameter 200 — plain min-label propagation
    // would need 200 rounds; pointer doubling must finish well inside the
    // default 20-round budget (maxLocalEdges = 0 forces the DISTRIBUTED
    // loop this test exists to pin; the local path is covered below)
    val chain = (1L until 200L).map(i => (i, i + 1)).toDF("i", "j")
    val got = Dedup.canonicalIds(chain, maxLocalEdges = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size === 200 && got.values.forall(_ == 1L))
  }

  test("canonicalIds: driver-local union-find == distributed loop") {
    // chains (deep), stars, a cycle, and out-of-order edges — the local
    // fast path must produce the identical (id, keep_id) relation the
    // distributed fixpoint produces
    val edges = (1L until 60L).map(i => (i, i + 1)) ++        // deep chain
      Seq((100L, 103L), (100L, 101L), (100L, 102L)) ++        // star
      Seq((200L, 201L), (201L, 202L), (202L, 200L)) ++        // cycle
      Seq((301L, 300L))                                       // reversed pair
    val pairs = edges.toDF("i", "j")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val local = rows(Dedup.canonicalIds(pairs))
    val dist = rows(Dedup.canonicalIds(pairs, maxLocalEdges = 0))
    assert(local === dist)
    assert(local(60L) === 1L && local(103L) === 100L &&
      local(202L) === 200L && local(301L) === 300L)
  }

  test("canonicalIds THROWS instead of returning partial labels when out of rounds") {
    val chain = (1L until 200L).map(i => (i, i + 1)).toDF("i", "j")
    intercept[IllegalStateException] {
      Dedup.canonicalIds(chain, maxIter = 3, maxLocalEdges = 0)
    }
  }

  test("PQ: seed rows self-encode to their hash rank; ADC top-1 for a seed query is itself") {
    import graft.operators.{Dedup, Similarity}
    val emb = Tables(spark, TestSpark.sfDir, "embeddings")
    val cb = Similarity.pqCodebooks(emb, numSub = 8, subDim = 8, numCentroids = 16)
    assert(cb.count() === 8 * 16)
    // the seed set is the 16 rows with the smallest hash60("pq:" + id),
    // numbered 0..15 in hash order — recompute it driver-side
    val seeds = emb.select("vec_id").collect().map(_.getLong(0))
      .map(id => (Dedup.hash60Local(s"pq:$id"), id))
      .sorted.take(16).map(_._2)
    val seedDf = {
      import spark.implicits._
      seeds.toSeq.toDF("vec_id")
    }
    val codes = Similarity
      .pqEncode(emb.join(broadcast(seedDf), Seq("vec_id"), "left_semi"), cb, 8, 8)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getInt(2)).toMap
    // a seed's subvectors are at distance 0 from their own centroid
    for ((id, rank) <- seeds.zipWithIndex; m <- 0 until 8)
      assert(codes((id, m)) === rank, s"seed $id (rank $rank) subspace $m")
    val anchor = seeds(3)
    val qv = emb.filter(col("vec_id") === anchor).select(col("embedding").as("qv"))
    val top = Similarity.pqAdcScore(Similarity.pqEncode(emb, cb, 8, 8), cb, qv, k = 5).collect()
    assert(top.head.getLong(0) === anchor) // exact reconstruction -> top score
  }

  test("batched feature extraction: batch shape honored, one row per input") {
    import graft.operators.Multimodal
    val docs = Tables(spark, TestSpark.sfDir, "documents")
      .select(col("doc_id"), col("text").cast("binary").as("content"))
    val n = docs.count()
    val batchSizes = spark.sparkContext.collectionAccumulator[Int]("batches")
    // instrumented infer: records every batch size it was handed
    val out = Multimodal.extractFeaturesBatched(docs, "doc_id", "content",
      dim = 8, batchSize = 7,
      infer = (batch, dim) => {
        batchSizes.add(batch.length)
        Multimodal.stubInfer(batch, dim)
      })
    assert(out.count() === n)
    assert(out.select("id").distinct().count() === n)
    import scala.jdk.CollectionConverters._
    // two actions ran the extraction twice; halve for per-run accounting
    val sizes = batchSizes.value.asScala.toSeq
    assert(sizes.nonEmpty && sizes.forall(_ <= 7), s"oversized batches: $sizes")
    assert(sizes.sum === 2 * n)
    // deterministic: same input -> same features
    val f1 = out.orderBy("id").collect().map(_.getSeq[Float](1))
    val f2 = Multimodal.extractFeaturesBatched(docs, "doc_id", "content", 8, 7)
      .orderBy("id").collect().map(_.getSeq[Float](1))
    assert(f1.zip(f2).forall { case (a, b) => a == b })
    assert(f1.head.length === 8)
  }

  test("hash sampling: membership stable under corpus growth; splits partition") {
    import graft.operators.Curation
    val docs = Tables(spark, TestSpark.sfDir, "documents")
    val sample = Curation.hashSample(docs, "doc_id", 3000, "v1")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // growing the corpus must not change any existing row's membership
    val grown = docs.unionByName(docs.withColumn("doc_id", col("doc_id") + 1000000L))
    val sampleGrown = Curation.hashSample(grown, "doc_id", 3000, "v1")
      .filter(col("doc_id") < 1000000L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(sampleGrown === sample)
    // ~30% within loose tolerance on 500 docs
    val n = docs.count().toDouble
    assert(sample.size > n * 0.2 && sample.size < n * 0.4, s"${sample.size}/$n")
    // split assignment partitions the corpus exactly
    val splits = Curation.assignSplit(docs, "doc_id", "v1",
      Seq(("train", 9000), ("val", 9500), ("test", 10000)))
    assert(splits.filter(col("split").isNull).count() === 0)
    assert(splits.count() === n.toLong)
    val bySplit = splits.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySplit.keySet === Set("train", "val", "test"))
    assert(bySplit("train") > bySplit("val") && bySplit("train") > bySplit("test"))
  }

  test("ANN paths measured against exact search: recall@20 within bounds") {
    import graft.operators.Similarity
    val emb = Tables(spark, TestSpark.sfDir, "embeddings")
    val qv = emb.filter(col("vec_id") === 7).select(col("embedding").as("qv"))
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("vec_id").collect().map(_.getLong(0)).toSet
    val exact = ids(Similarity.knnExact(emb, qv, 20))
    val cents = Similarity.centroids(emb).withColumnRenamed("label", "cluster")
    val cells = Similarity.assignCells(emb, cents)
    def ivf(np: Int) = ids(Similarity.ivfSearchPruned(cells, cents, qv, np, 20))
    def recall(approx: Set[Long]) = approx.intersect(exact).size / 20.0
    // recall grows monotonically with nprobe and reaches EXACT at full probe
    val r = Seq(1, 2, 4, 10).map(np => np -> recall(ivf(np)))
    assert(r.sliding(2).forall { case Seq((_, a), (_, b)) => b >= a }, r.toString)
    assert(r.last._2 === 1.0, s"nprobe=all must equal exact: $r")
    assert(r.head._2 >= 0.15, s"probing the query's own cell: $r")
    // sampled-codebook PQ is coarse but well above the 20/500 = 4% chance
    // floor — measured as a 20-query MEAN (single-query recall at K=16
    // codes swings with the hash-sampled seed set)
    val queries = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val exactB = Similarity.knnBatch(emb, queries, 20)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val cbAll = Similarity.pqCodebooks(emb, 8, 8, 16)
    val adcB = Similarity
      .pqAdcScore(Similarity.pqEncode(emb, cbAll, 8, 8), cbAll, queries, 20)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val pq = exactB.map { case (q, e) =>
      e.intersect(adcB.getOrElse(q, Set.empty)).size / 20.0 }.sum / exactB.size
    assert(pq >= 0.25, s"PQ mean recall $pq")
  }

  test("ivfPqRefineSearch with a full shortlist == exact search over the probed cells") {
    // the refine stage's ONLY approximation is the ADC shortlist: when
    // kCoarse covers every row of the probed cells, the two-stage result
    // must be EXACTLY the pruned exact search (the FAISS IndexRefineFlat
    // convergence property)
    import graft.operators.Similarity
    val dim = 64
    val emb = (0L until 30L).map { i =>
      val v = (0 until dim).map(d => math.sin(i * 13 + d * 7).toFloat).toArray
      val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      (i, v.map(_ / n))
    }.toDF("vec_id", "embedding")
    val cents = Similarity.kmeansFit(emb, k = 3, iters = 1)
    val cells = Similarity.assignCells(emb, cents)
    val cb = Similarity.pqCodebooks(emb, 8, 8, 16)
    val codes = Similarity.pqEncode(cells, cb, 8, 8, carry = Seq("cluster"))
    val qv = emb.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    val probed = Similarity.probeCells(cents, qv, nprobe = 2)
    val got = Similarity.ivfPqRefineSearch(cells, codes, cb, cents, qv,
      nprobe = 2, kCoarse = 30, k = 5)
    val want = Similarity.scoreAll(cells.filter(col("cluster").isin(probed: _*)), qv)
      .select(col("vec_id"), round(col("score"), 4).as("score"))
      .orderBy(col("score").desc, col("vec_id")).limit(5)
    assert(rows(got) === rows(want))
    cents.unpersist()
  }

  test("adaptive filtered ANN escalates the probe to fill k; fixed nprobe under-fills") {
    import graft.operators.Similarity
    val dim = 16
    val emb = (0L until 40L).map { i =>
      val v = (0 until dim).map(d => math.cos(i * 11 + d * 5).toFloat).toArray
      val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      (i, v.map(_ / n))
    }.toDF("vec_id", "embedding")
    val cents = Similarity.kmeansFit(emb, k = 4, iters = 2)
    val cells = Similarity.assignCells(emb, cents)
    val qv = emb.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    val topCell = Similarity.probeCells(cents, qv, 1).head
    val byCell = cells.select("vec_id", "cluster").collect()
      .map(r => r.getLong(0) -> r.getInt(1))
    // allow-set: exactly TWO ids from the query's own (top-scored) cell plus
    // everything OUTSIDE it — a fixed nprobe=1 probe can only ever see 2
    // admissible rows, however large k is
    val inTop = byCell.filter(_._2 == topCell).map(_._1).sorted.take(2)
    val outTop = byCell.filter(_._2 != topCell).map(_._1)
    assume(inTop.length == 2 && outTop.length >= 6)
    val allowIds = (inTop ++ outTop).toSet
    val allowDf = allowIds.toSeq.sorted.toDF("vec_id")
    val k = 6
    val fixed = Similarity.ivfSearchPruned(cells, cents, qv, nprobe = 1, k = k,
      restrictIds = Some(allowDf))
    assert(fixed.count() === 2, "fixed nprobe=1 should under-fill k under this filter")
    val adaptive = Similarity.ivfSearchAdaptivePruned(cells, cents, qv, k = k,
      restrictIds = Some(allowDf)).collect()
    assert(adaptive.length === k, "adaptive probe must escalate until k admissible rows")
    assert(adaptive.map(_.getLong(0)).forall(allowIds), "inadmissible id served")
    // when the whole corpus holds fewer admissible ids than k the adaptive
    // probe covers every non-empty cell and equals the filtered exact search
    val tinyIds = outTop.sorted.take(3).toSeq
    val tinyDf = tinyIds.toDF("vec_id")
    val got = Similarity.ivfSearchAdaptivePruned(cells, cents, qv, k = k,
      restrictIds = Some(tinyDf))
    val want = Similarity.knnExact(emb.filter(col("vec_id").isin(tinyIds: _*)), qv, k)
      .select(col("vec_id"), round(col("score"), 4).as("score"))
      .orderBy(col("score").desc, col("vec_id"))
    assert(rows(got) === rows(want))
    cents.unpersist()
  }

  test("adaptive probe planning tolerates null-cluster rows in the cell store") {
    // null-vector corpus rows land with a NULL cell (assignCells contract);
    // the planner's per-cell admissible count must skip them instead of
    // NPE-ing on the null group at collect
    import graft.operators.Similarity
    val dim = 16
    val emb = (0L until 20L).map { i =>
      val v = (0 until dim).map(d => math.cos(i * 11 + d * 5).toFloat).toArray
      val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      (i, v.map(_ / n))
    }.toDF("vec_id", "embedding")
    val cents = Similarity.kmeansFit(emb, k = 3, iters = 1)
    val cells = Similarity.assignCells(emb, cents).unionByName(
      Seq(999L).toDF("vec_id")
        .select(col("vec_id"), lit(null).cast("array<float>").as("embedding"),
          lit(null).cast("int").as("cluster")))
    val qv = emb.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    val got = Similarity.ivfSearchAdaptivePruned(cells, cents, qv, k = 5).collect()
    assert(got.length === 5)
    assert(!got.map(_.getLong(0)).contains(999L))
    cents.unpersist()
  }

  test("tfidfSearchMulti == per-channel tfidfSearch on each channel") {
    val docsA = Seq(
      (1L, "spark join shuffle"), (2L, "join join filter"), (3L, "scan spark"))
      .toDF("doc_id", "text")
    val docsB = Seq(
      (1L, "cat dog"), (2L, "dog dog bird"), (4L, "cat cat"))
      .toDF("doc_id", "text")
    val multi = Lexical.tfidfSearchMulti(spark, Seq(
      ("a", docsA, "doc_id", "text", Seq("spark", "join")),
      ("b", docsB, "doc_id", "text", Seq("dog"))))
    val gotA = multi.filter(col("ch") === "a")
      .select(col("id"), round(col("score"), 9).as("s"))
    val gotB = multi.filter(col("ch") === "b")
      .select(col("id"), round(col("score"), 9).as("s"))
    val expA = Lexical.tfidfSearch(spark, docsA, "doc_id", "text", Seq("spark", "join"))
      .select(col("id"), round(col("score"), 9).as("s"))
    val expB = Lexical.tfidfSearch(spark, docsB, "doc_id", "text", Seq("dog"))
      .select(col("id"), round(col("score"), 9).as("s"))
    assert(rows(gotA) === rows(expA))
    assert(rows(gotB) === rows(expB))
  }
}
