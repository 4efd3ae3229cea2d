package graft

import graft.operators.Similarity
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[Similarity.pqEncodeBulk]] == [[Similarity.pqEncodeJoin]] exact
  * parity — the encode twin of the kmeansFit assignment dispatch. The
  * join form materializes numSub x K intermediate rows per vector; at
  * FAISS-production geometry (96 subspaces x 256 codes = 24,576
  * pairs/row) the bulk mapPartitions kernel must produce the identical
  * codes table (same argmin, same smaller-code tie-break, same
  * null/short-vector contract) while skipping that materialization. */
class PqEncodeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val emb = Tables(spark, TestSpark.sfDir, "embeddings")

  private def canon(df: DataFrame): Seq[(Long, Int, Any)] =
    df.select(col("vec_id"), col("m"), col("code"))
      .collect().map(r => (r.getLong(0), r.getInt(1),
        if (r.isNullAt(2)) null else r.getInt(2)))
      .toSeq.sortBy(t => (t._1, t._2))

  test("bulk == join at the oracle geometry (8x16, real embeddings)") {
    val cb = Similarity.pqCodebooks(emb, 8, 8, 16)
    val cbRows = cb.select("m", "c", "cbv").collect()
    val viaJoin = canon(Similarity.pqEncodeJoin(emb, cb, 8, 8))
    val viaBulk = canon(Similarity.pqEncodeBulk(emb, cbRows, 8, 8))
    assert(viaBulk === viaJoin)
    assert(viaBulk.nonEmpty)
  }

  test("bulk == join at production geometry (16x32 over tiled d=128)") {
    // tile the 64-dim embeddings to d=128 so 16 subspaces of subDim 8
    // exist; 32 codes/subspace pushes pairs/row to 512 — enough that the
    // two forms exercise different physical paths while staying fast
    val wide = emb.select(col("vec_id"),
      expr("flatten(array(embedding, transform(embedding, x -> CAST(x * 0.5 AS FLOAT))))")
        .as("embedding"))
    val cb = Similarity.pqCodebooks(wide, 16, 8, 32)
    val cbRows = cb.select("m", "c", "cbv").collect()
    val viaJoin = canon(Similarity.pqEncodeJoin(wide, cb, 16, 8))
    val viaBulk = canon(Similarity.pqEncodeBulk(wide, cbRows, 16, 8))
    assert(viaBulk === viaJoin)
  }

  test("bulk == join at the d=64 auto geometry (8x256), which pqEncode sends to bulk") {
    val p = Similarity.IvfParams.auto(500L, 64)
    assert((p.numSub, p.subDim, p.numCentroids) === ((8, 8, 256)))
    val cb = Similarity.pqCodebooks(emb, p.numSub, p.subDim, p.numCentroids)
    val cbRows = cb.select("m", "c", "cbv").collect()
    assert(cbRows.length === 2048)
    val viaJoin = canon(Similarity.pqEncodeJoin(emb, cb, 8, 8))
    assert(canon(Similarity.pqEncodeBulk(emb, cbRows, 8, 8)) === viaJoin)
    val viaDefault = Similarity.pqEncode(emb, cb, 8, 8)
    assert(!viaDefault.queryExecution.executedPlan.toString.contains("Join"),
      "2,048 codebook rows should take the bulk kernel")
    assert(canon(viaDefault) === viaJoin)
  }

  test("pqEncode dispatches by codebook size, both routes agree") {
    val cb = Similarity.pqCodebooks(emb, 8, 8, 16) // 128 rows
    val viaDefault = canon(Similarity.pqEncode(emb, cb, 8, 8)) // join route
    val viaForcedBulk = canon(
      Similarity.pqEncode(emb, cb, 8, 8, maxJoinPairs = 0)) // bulk route
    assert(viaForcedBulk === viaDefault)
  }

  test("ties break to the smaller code in both forms") {
    // duplicate centroids: codes 0/1 and 2/3 are identical vectors, so
    // every row ties and must elect the smaller code
    val docs = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f)),
      (3L, Array(0.6f, 0.6f))).toDF("vec_id", "embedding")
    val cb = Seq(
      (0, 0, Array(1.0f, 0.0f)), (0, 1, Array(1.0f, 0.0f)),
      (0, 2, Array(0.0f, 1.0f)), (0, 3, Array(0.0f, 1.0f)))
      .toDF("m", "c", "cbv")
    val cbRows = cb.select("m", "c", "cbv").collect()
    val viaJoin = canon(Similarity.pqEncodeJoin(docs, cb, 1, 2))
    val viaBulk = canon(Similarity.pqEncodeBulk(docs, cbRows, 1, 2))
    assert(viaBulk === viaJoin)
    // row 1 ties between codes 0 and 1 -> 0; row 2 between 2 and 3 -> 2
    assert(viaBulk.find(_._1 == 1L).get._3 === 0)
    assert(viaBulk.find(_._1 == 2L).get._3 === 2)
  }

  test("null vectors, short vectors, and carry columns agree") {
    val docs = Seq(
      (1L, "a", Array(1.0f, 2.0f, 3.0f, 4.0f)),
      // null vec: the join form's min(struct(null, c)) sorts NULLS FIRST,
      // so the smallest code wins — the kernel must mirror, not null out
      (2L, "b", null.asInstanceOf[Array[Float]]),
      (3L, "c", Array(1.0f)), // short: tail subspaces slice empty
      (4L, "d", Array(0.5f, 0.5f, 9.0f, 9.0f)))
      .toDF("vec_id", "cell", "embedding")
    val cb = Seq(
      (0, 0, Array(0.0f, 0.0f)), (0, 1, Array(1.0f, 2.0f)),
      (1, 0, Array(3.0f, 4.0f)), (1, 1, Array(9.0f, 9.0f)))
      .toDF("m", "c", "cbv")
    val cbRows = cb.select("m", "c", "cbv").collect()
    def canonC(df: DataFrame): Seq[(Long, String, Int, Any)] =
      df.collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2),
        if (r.isNullAt(3)) null else r.getInt(3))).toSeq.sortBy(t => (t._1, t._3))
    val viaJoin = canonC(
      Similarity.pqEncodeJoin(docs, cb, 2, 2, carry = Seq("cell")))
    val viaBulk = canonC(
      Similarity.pqEncodeBulk(docs, cbRows, 2, 2, carry = Seq("cell")))
    assert(viaBulk === viaJoin)
    assert(viaBulk.filter(_._1 == 2L).map(_._4) === Seq(0, 0))
  }

  test("Lloyd refine: bulk assignment == join assignment across iterations") {
    def canonCb(df: DataFrame): Seq[(Int, Int, Seq[Float])] =
      df.collect().map(r => (r.getInt(0), r.getInt(1), r.getSeq[Float](2)))
        .toSeq.sortBy(t => (t._1, t._2))
    // the oracle geometry (8x16) and the d=64 auto geometry (8x256)
    for (codes <- Seq(16, 256); iters <- Seq(1, 2)) {
      val init = Similarity.pqCodebooks(emb, 8, 8, codes)
      val viaJoin = Similarity.pqRefineCodebooks(emb, init, 8, 8, iters = iters,
        maxJoinPairs = Int.MaxValue)
      val viaBulk = Similarity.pqRefineCodebooks(emb, init, 8, 8, iters = iters,
        maxJoinPairs = 0)
      assert(canonCb(viaBulk) === canonCb(viaJoin), s"codes=$codes iters=$iters")
      viaJoin.unpersist(); viaBulk.unpersist()
    }
  }

  test("a subspace with no codebook rows is absent from both outputs") {
    val docs = Seq((1L, Array(1.0f, 2.0f, 3.0f, 4.0f)))
      .toDF("vec_id", "embedding")
    val cb = Seq((0, 0, Array(0.0f, 0.0f)), (0, 1, Array(1.0f, 2.0f)))
      .toDF("m", "c", "cbv") // m=1 has NO rows
    val cbRows = cb.select("m", "c", "cbv").collect()
    val viaJoin = canon(Similarity.pqEncodeJoin(docs, cb, 2, 2))
    val viaBulk = canon(Similarity.pqEncodeBulk(docs, cbRows, 2, 2))
    assert(viaBulk === viaJoin)
    assert(viaBulk.map(_._2) === Seq(0)) // only m=0 present
  }
}
