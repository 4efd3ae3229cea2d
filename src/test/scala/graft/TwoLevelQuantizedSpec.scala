package graft

import graft.operators.Similarity
import graft.streaming.IncrementalIndex
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Two-level coarse probe through the QUANTIZED serving paths (VERDICT
  * r16 #4): the two-level [[Similarity.probe]] at FULL level-1 probe
  * reproduces the flat [[Similarity.probeCells]] bit-for-bit, so every
  * quantized/refine serving form must return IDENTICAL results when
  * dispatched through the hierarchy at nprobeL1 = groups — pq/int8/
  * trained-int8/binary, single and batch, plus the ADC-only pruned
  * forms and the streaming serving loop. This is the operator-level
  * counterpart of the facade's partial-L1 parity pin: a big-nlist
  * quantized store can serve without ever materializing the flat
  * centroid table, losing nothing when uncalibrated. The fixture also
  * pins batch == single-query parity for the families no other spec
  * pins, and the request sizes every serving form rejects. */
class TwoLevelQuantizedSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private lazy val fx = {
    val emb = Tables(spark, TestSpark.sfDir, "embeddings").limit(400)
    val out = java.nio.file.Files.createTempDirectory("graft_2lq").toString
    val k = Similarity.kmeansFit(emb, 25, iters = 2)
    k.coalesce(1).write.parquet(s"$out/centroids")
    k.unpersist()
    val cents = spark.read.parquet(s"$out/centroids")
    val (l1, l2) = Similarity.buildCoarseHierarchy(cents, out)
    Similarity.assignCellsBulk(emb, cents).write.parquet(s"$out/cells")
    val cells = spark.read.parquet(s"$out/cells")
    val cb = Similarity.pqRefineCodebooks(emb,
      Similarity.pqCodebooks(emb, 8, 8, 16), 8, 8, iters = 1)
    cb.coalesce(1).write.parquet(s"$out/codebooks")
    cb.unpersist()
    val codebooks = spark.read.parquet(s"$out/codebooks")
    Similarity.pqEncode(cells, codebooks, 8, 8, carry = Seq("cluster"))
      .write.parquet(s"$out/codes")
    Similarity.int8EncodeCells(cells).write.parquet(s"$out/int8")
    Similarity.binaryEncodeCells(cells).write.parquet(s"$out/bin")
    (emb, cents, l1, l2, cells, codebooks,
      spark.read.parquet(s"$out/codes"),
      spark.read.parquet(s"$out/int8"),
      spark.read.parquet(s"$out/bin"), out)
  }

  private def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq.toIndexedSeq).toIndexedSeq.sortBy(_.toString)

  test("full-L1 two-level dispatch == flat probe across the quantized single-query family") {
    val (emb, cents, l1, l2, cells, cbk, codes, int8, bin, _) = fx
    val groups = l1.count().toInt
    val hier = Some((l1, l2))
    val qv = emb.filter(col("vec_id") === 0).select(col("embedding").as("qv"))

    assert(rowsOf(Similarity.ivfPqSearchPruned(codes, cbk, cents, qv,
        nprobe = 3, k = 10, hierarchy = hier, nprobeL1 = Some(groups))) ===
      rowsOf(Similarity.ivfPqSearchPruned(codes, cbk, cents, qv,
        nprobe = 3, k = 10)), "pq pruned")

    assert(rowsOf(Similarity.ivfPqRefineSearch(cells, codes, cbk, cents, qv,
        nprobe = 3, kCoarse = 30, k = 10,
        hierarchy = hier, nprobeL1 = Some(groups))) ===
      rowsOf(Similarity.ivfPqRefineSearch(cells, codes, cbk, cents, qv,
        nprobe = 3, kCoarse = 30, k = 10)), "pq refine")

    assert(rowsOf(Similarity.ivfInt8RefineSearch(int8, cells, cents, qv,
        nprobe = 3, kCoarse = 30, k = 10,
        hierarchy = hier, nprobeL1 = Some(groups))) ===
      rowsOf(Similarity.ivfInt8RefineSearch(int8, cells, cents, qv,
        nprobe = 3, kCoarse = 30, k = 10)), "int8 refine")

    assert(rowsOf(Similarity.ivfBinaryRefineSearch(bin, cells, cents, qv,
        nprobe = 3, kCoarse = 30, k = 10,
        hierarchy = hier, nprobeL1 = Some(groups))) ===
      rowsOf(Similarity.ivfBinaryRefineSearch(bin, cells, cents, qv,
        nprobe = 3, kCoarse = 30, k = 10)), "binary refine")

    // trained-range SQ8 sibling
    val ranges = Similarity.int8TrainRanges(emb)
    val trained = Similarity.int8EncodeCellsTrained(cells, ranges)
    assert(rowsOf(Similarity.ivfInt8TrainedRefineSearch(trained, ranges,
        cells, cents, qv, nprobe = 3, kCoarse = 30, k = 10,
        hierarchy = hier, nprobeL1 = Some(groups))) ===
      rowsOf(Similarity.ivfInt8TrainedRefineSearch(trained, ranges,
        cells, cents, qv, nprobe = 3, kCoarse = 30, k = 10)), "trained int8")
  }

  test("full-L1 two-level dispatch == flat probe across the quantized batch family") {
    val (emb, cents, l1, l2, cells, cbk, codes, int8, bin, _) = fx
    val groups = l1.count().toInt
    val hier = Some((l1, l2))
    val queries = emb.filter(col("vec_id").isin(0L, 7L, 42L))
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))

    assert(rowsOf(Similarity.ivfPqSearchBatchPruned(codes, cbk, cents,
        queries, nprobe = 3, k = 10,
        hierarchy = hier, nprobeL1 = Some(groups))) ===
      rowsOf(Similarity.ivfPqSearchBatchPruned(codes, cbk, cents,
        queries, nprobe = 3, k = 10)), "pq batch pruned")

    assert(rowsOf(Similarity.ivfPqRefineSearchBatch(cells, codes, cbk,
        cents, queries, nprobe = 3, kCoarse = 30, k = 10,
        hierarchy = hier, nprobeL1 = Some(groups))) ===
      rowsOf(Similarity.ivfPqRefineSearchBatch(cells, codes, cbk,
        cents, queries, nprobe = 3, kCoarse = 30, k = 10)), "pq batch refine")

    assert(rowsOf(Similarity.ivfInt8RefineSearchBatch(int8, cells, cents,
        queries, nprobe = 3, kCoarse = 30, k = 10,
        hierarchy = hier, nprobeL1 = Some(groups))) ===
      rowsOf(Similarity.ivfInt8RefineSearchBatch(int8, cells, cents,
        queries, nprobe = 3, kCoarse = 30, k = 10)), "int8 batch refine")

    assert(rowsOf(Similarity.ivfBinaryRefineSearchBatch(bin, cells, cents,
        queries, nprobe = 3, kCoarse = 30, k = 10,
        hierarchy = hier, nprobeL1 = Some(groups))) ===
      rowsOf(Similarity.ivfBinaryRefineSearchBatch(bin, cells, cents,
        queries, nprobe = 3, kCoarse = 30, k = 10)), "binary batch refine")
  }

  test("batch == single-query form, per query: flat, SQ8 refine, PQ ADC and PQ refine") {
    val (emb, cents, _, _, cells, cbk, codes, int8, _, _) = fx
    val ids = Seq(0L, 7L, 42L)
    val queries = emb.filter(col("vec_id").isin(ids: _*))
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val forms: Seq[(String, DataFrame => DataFrame, DataFrame)] = Seq(
      ("flat",
        qv => Similarity.ivfSearchPruned(cells, cents, qv, nprobe = 3, k = 10),
        Similarity.ivfSearchBatchPruned(cells, cents, queries, nprobe = 3, k = 10)),
      ("int8 refine",
        qv => Similarity.ivfInt8RefineSearch(int8, cells, cents, qv,
          nprobe = 3, kCoarse = 30, k = 10),
        Similarity.ivfInt8RefineSearchBatch(int8, cells, cents, queries,
          nprobe = 3, kCoarse = 30, k = 10)),
      ("pq adc",
        qv => Similarity.ivfPqSearchPruned(codes, cbk, cents, qv, nprobe = 3, k = 10),
        Similarity.ivfPqSearchBatchPruned(codes, cbk, cents, queries,
          nprobe = 3, k = 10)),
      ("pq refine",
        qv => Similarity.ivfPqRefineSearch(cells, codes, cbk, cents, qv,
          nprobe = 3, kCoarse = 30, k = 10),
        Similarity.ivfPqRefineSearchBatch(cells, codes, cbk, cents, queries,
          nprobe = 3, kCoarse = 30, k = 10)))
    for ((name, single, batch) <- forms) {
      val perQuery = batch.collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2)))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      for (q <- ids) {
        val qv = emb.filter(col("vec_id") === q).select(col("embedding").as("qv"))
        val one = single(qv).collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
        assert(one.size === 10, s"$name single form at q=$q")
        assert(perQuery.getOrElse(q, Set.empty) === one, s"$name batch != single at q=$q")
      }
    }
  }

  test("nprobe = 0, nprobeL1 = 0 and k = 0 are named errors, not empty results") {
    val (emb, cents, l1, l2, cells, cbk, codes, int8, _, _) = fx
    val qv = emb.filter(col("vec_id") === 0L).select(col("embedding").as("qv"))
    val queries = emb.filter(col("vec_id").isin(0L, 7L))
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    def named(param: String)(call: => DataFrame): Unit = {
      val e = intercept[IllegalArgumentException](call.collect())
      assert(e.getMessage.contains(s"$param must be positive"), e.getMessage)
    }
    named("nprobe")(Similarity.ivfSearchPruned(cells, cents, qv, nprobe = 0, k = 10))
    named("nprobe")(Similarity.ivfInt8RefineSearchBatch(int8, cells, cents, queries,
      nprobe = 0, kCoarse = 30, k = 10))
    named("k")(Similarity.ivfInt8RefineSearch(int8, cells, cents, qv,
      nprobe = 3, kCoarse = 30, k = 0))
    named("k")(Similarity.ivfSearchBatchPruned(cells, cents, queries, nprobe = 3, k = 0))
    named("nprobeL1")(Similarity.ivfPqSearchPruned(codes, cbk, cents, qv, nprobe = 3,
      k = 10, hierarchy = Some((l1, l2)), nprobeL1 = Some(0)))
  }

  test("partial-L1 quantized refine draws only from the probed groups' cells") {
    val (emb, cents, l1, l2, cells, cbk, codes, _, _, _) = fx
    val qv = emb.filter(col("vec_id") === 3L).select(col("embedding").as("qv"))
    val gids = Similarity.probe(cents, Some((l1, l2)), Similarity.singleQuery(qv),
      nprobeL1 = Some(2), nprobe = Int.MaxValue).flatMap(_._2)
    val member = cells
      .filter(col("cluster").isin(gids: _*))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val got = Similarity.ivfPqRefineSearch(cells, codes, cbk, cents, qv,
        nprobe = 4, kCoarse = 30, k = 10,
        hierarchy = Some((l1, l2)), nprobeL1 = Some(2))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(got.nonEmpty && got.subsetOf(member))
  }

  test("serveAnnStream dispatches two-level: full-L1 stream == flat stream == one-shot batch") {
    val (emb, cents, l1, l2, cells, _, _, _, _, out) = fx
    val groups = l1.count().toInt
    val qDir = s"$out/queries"
    emb.filter(col("vec_id").isin(0L, 7L, 42L, 99L))
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      .write.parquet(qDir)
    def key(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    val flat = key(IncrementalIndex.serveAnnStream(spark, qDir, cells,
      cents, nprobe = 3, k = 10, maxFilesPerTrigger = 1))
    val two = key(IncrementalIndex.serveAnnStream(spark, qDir, cells,
      cents, nprobe = 3, k = 10, maxFilesPerTrigger = 1,
      hierarchy = Some((l1, l2)), nprobeL1 = Some(groups)))
    val queries = spark.read.parquet(qDir)
    val oneShot = key(Similarity.ivfSearchBatchPruned(cells, cents,
      queries, nprobe = 3, k = 10))
    assert(two === flat)
    assert(two === oneShot)
  }
}
