package graft

import graft.operators._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Empty/degenerate-input behavior: at 100 TB, empty partitions, empty
  * candidate sets, and zero-match queries are routine — every operator must
  * return an empty (or identity) relation, never throw. */
class EdgeCaseSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val emptyDocs = spark.createDataFrame(
    spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
    StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))))

  test("staged query files: an id with no part file fails with a named error") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_stage_parts").toFile
    def put(rel: String): java.io.File = {
      val f = new java.io.File(tmp, rel)
      f.getParentFile.mkdirs()
      java.nio.file.Files.write(f.toPath, Array[Byte](0)).toFile
    }
    // a __p=<i> dir holding only a checksum sibling, no .parquet part file
    put("__p=3/.part-00000.c000.zstd.parquet.crc")
    val noPart = intercept[IllegalArgumentException](graft.SparkEntry.stagedPart(tmp, 3))
    assert(noPart.getMessage.contains("query id 3"), noPart.getMessage)
    // no __p=<i> dir at all (an id with no embeddings row)
    val noDir = intercept[IllegalArgumentException](graft.SparkEntry.stagedPart(tmp, 4))
    assert(noDir.getMessage.contains("query id 4"), noDir.getMessage)
    val part = put("__p=5/part-00000.c000.zstd.parquet")
    put("__p=5/.part-00000.c000.zstd.parquet.crc")
    assert(graft.SparkEntry.stagedPart(tmp, 5) === part)
  }

  test("dedup pipelines on an empty corpus return empty, not an error") {
    assert(Dedup.exact(emptyDocs, "doc_id", "text").count() === 0)
    assert(Dedup.minhashLshPairs(emptyDocs, "doc_id", "text").count() === 0)
    assert(Dedup.jaccardPairs(emptyDocs, "doc_id", "text").count() === 0)
    assert(Dedup.simhash(emptyDocs, "doc_id", "text").count() === 0)
  }

  test("mmrRerank of an empty shortlist returns empty, not head-of-empty") {
    val emptyCands = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType)))))
    val qv = Seq(Tuple1(Array(1f, 0f))).toDF("qv")
    val got = Similarity.mmrRerank(emptyCands, qv, k = 5)
    assert(got.columns.toSeq === Seq("rnk", "vec_id", "mmr"))
    assert(got.count() === 0)
  }

  test("mmrRerank refuses a corpus-scale shortlist instead of OOMing the driver") {
    // the guard must trip BEFORE the shortlist^2 pairwise collect — a
    // caller handing the full corpus to the reranker gets a clear error
    // pointing at retrieval-stage k-bounding, not a 2.5G-entry driver map
    val big = spark.range(Similarity.MmrMaxShortlist + 1)
      .select(col("id").as("vec_id"),
        array(lit(1f), lit(0f)).as("embedding"))
    val qv = Seq(Tuple1(Array(1f, 0f))).toDF("qv")
    val e = intercept[IllegalArgumentException] {
      Similarity.mmrRerank(big, qv, k = 5)
    }
    assert(e.getMessage.contains("shortlist"))
    assert(e.getMessage.contains(Similarity.MmrMaxShortlist.toString))
  }

  test("artifact-fed minhash serving on empty stores returns empty, not an error") {
    import graft.operators.Dedup
    val hashes = Seq.empty[(Long, Long)].toDF("id", "hv")
    val buckets = Seq.empty[(Long, Long, Long)].toDF("id", "band", "bucket")
    assert(Dedup.minhashLshPairsFromIndex(hashes, buckets).count() === 0L)
  }

  test("aHashAutoParams guards its domain") {
    import graft.operators.Multimodal
    intercept[IllegalArgumentException](Multimodal.aHashAutoParams(0))
    intercept[IllegalArgumentException](Multimodal.aHashAutoParams(10, diffFraction = 0.0))
    intercept[IllegalArgumentException](Multimodal.aHashAutoParams(10, diffFraction = 0.5))
    intercept[IllegalArgumentException](Multimodal.aHashAutoParams(10, maxBands = 1))
    // n = 1 is a legal corpus (nothing to pair, but the geometry exists)
    val p = Multimodal.aHashAutoParams(1)
    assert(p.bands > p.maxHamming && p.bandBits === 9)
  }

  test("rotateVectorsPrepared refuses an empty component matrix") {
    import graft.operators.Similarity
    val emb = Seq((1L, Array(1.0f, 2.0f))).toDF("vec_id", "embedding")
    intercept[IllegalArgumentException](
      Similarity.rotateVectorsPrepared(emb, Array.empty[Array[Double]]))
  }

  test("canonicalIds of an empty pair set is empty") {
    val pairs = Seq.empty[(Long, Long)].toDF("i", "j")
    assert(Dedup.canonicalIds(pairs).count() === 0)
  }

  test("tf-idf search with no matching query terms returns empty") {
    val docs = Seq((1L, "alpha beta"), (2L, "gamma")).toDF("doc_id", "text")
    val got = Lexical.tfidfSearch(spark, docs, "doc_id", "text", Seq("nosuchterm"))
    assert(got.count() === 0)
    assert(Lexical.bm25Search(spark, docs, "doc_id", "text", Seq("nosuchterm")).count() === 0)
  }

  test("contamination with an empty benchmark set flags nothing") {
    val docs = Seq((10L, "a b c d e f g h")).toDF("doc_id", "text")
    assert(TextAnalysis.contamination(docs, emptyDocs, "doc_id", "text").count() === 0)
  }

  test("fusion of channels where one is empty keeps the other's ids") {
    val ch1 = Seq((1L, 2.0), (2L, 3.0)).toDF("id", "score")
    val ch2 = Seq.empty[(Long, Double)].toDF("id", "score")
    val ids = Fusion.fuseByAddition(Seq(ch1, ch2))
      .select("id").collect().map(_.getLong(0)).toSet
    assert(ids === Set(1L, 2L))
  }

  test("single-token and empty-string docs survive shingling/char_wb") {
    val docs = Seq((1L, "one"), (2L, ""), (3L, "  ")).toDF("doc_id", "text")
    // 3-gram shingles of a 1-token doc: none — and no sequence(1,0) blowup
    assert(Dedup.shingles(docs, "doc_id", "text").count() === 0)
    val grams = docs.select(explode(Lexical.charWbNgrams(col("text"), 3, 5)))
    assert(grams.count() > 0) // "one" padded -> " one " grams only
  }

  test("fitted-index search: out-of-vocabulary and repeated query terms") {
    val docs = Seq((1L, "a b c"), (2L, "b c d")).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_idx_edge").toString
    val idx = Lexical.writeIndex(spark, docs, "doc_id", "text", dir, buckets = 2)
    // all-OOV query: no matching vocabulary -> empty result, no error
    assert(Lexical.tfidfSearchIndexed(spark, idx, Seq("zzz", "yyy")).count() === 0)
    assert(Lexical.bm25SearchIndexed(spark, idx, Seq("zzz")).count() === 0)
    // mixed OOV drops out (sklearn semantics), repeated terms raise qtf
    val mixed = Lexical.tfidfSearchIndexed(spark, idx, Seq("a", "zzz"))
      .collect().map(r => r.getLong(0)).toSet
    assert(mixed === Set(1L))
    val once = Lexical.tfidfSearchIndexed(spark, idx, Seq("a", "b"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val twice = Lexical.tfidfSearchIndexed(spark, idx, Seq("a", "a", "b"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // doubling the 'a' weight shifts scores RELATIVELY toward the 'a'-doc
    // (absolute cosines can both shrink as qnorm grows)
    assert(twice(1L) / twice(2L) > once(1L) / once(2L))
    assert(twice(2L) < once(2L))
  }

  test("PCA fit on an empty corpus fails with the actual problem, not an NPE") {
    import graft.operators.Similarity
    val emptyVecs = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType)))))
    val e = intercept[IllegalArgumentException] {
      Similarity.pcaPowerFit(emptyVecs, "embedding", iters = 2)
    }
    assert(e.getMessage.contains("non-empty Gram"))
    // empty Gram frame through the artifact entry fails the same way
    val e2 = intercept[IllegalArgumentException] {
      Similarity.pcaPowerFitFromGram(
        Similarity.gramMatrix(emptyVecs, "embedding"), iters = 2)
    }
    assert(e2.getMessage.contains("non-empty Gram"))
  }

  test("zipfProfile on an empty corpus returns one all-null summary row, not an error") {
    import graft.operators.TextAnalysis
    val got = TextAnalysis.zipfProfile(emptyDocs, "text").collect()
    assert(got.length === 1)
    assert(got.head.getLong(0) === 0L)        // n_terms
    assert(got.head.isNullAt(2))              // zipf_slope: no terms, no slope
  }
}
