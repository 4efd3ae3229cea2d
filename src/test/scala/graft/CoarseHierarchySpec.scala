package graft

import graft.operators.Similarity
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Two-level coarse quantizer ([[Similarity.buildCoarseHierarchy]] /
  * the two-level [[Similarity.probe]] — the FAISS IMI analog that bounds
  * the driver at sqrt(nlist) instead of nlist):
  *
  *  - the grouped level-2 store partitions the centroid table without
  *    loss (every centroid lands in exactly one group);
  *  - at FULL level-1 probe the two-level probe equals [[probeCells]]
  *    exactly, at every nprobe depth — same rounded-dot ordering, same
  *    lower-id tiebreaks (the parity contract that makes the hierarchy
  *    a drop-in for the flat probe when the driver can afford flat);
  *  - at partial level-1 probe the result is a subset drawn only from
  *    the probed groups (the IMI coverage trade, explicit not silent);
  *  - the level-1 table is sqrt-scale: groups ~ ceil(sqrt(nlist)). */
class CoarseHierarchySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def fixture() = {
    val emb = Tables(spark, TestSpark.sfDir, "embeddings").limit(400)
    val out = java.nio.file.Files.createTempDirectory("graft_coarse2").toString
    val cents = Similarity.kmeansFit(emb, 25, iters = 2)
    cents.coalesce(1).write.mode("overwrite").parquet(s"$out/centroids")
    cents.unpersist()
    val centArt = spark.read.parquet(s"$out/centroids")
    val (l1, l2) = Similarity.buildCoarseHierarchy(centArt, out)
    (emb, centArt, l1, l2)
  }

  test("grouped store partitions the centroids losslessly at sqrt scale") {
    val (_, centArt, l1, l2) = fixture()
    val nlist = centArt.count()
    assert(l1.count() <= math.ceil(math.sqrt(nlist.toDouble)).toLong)
    assert(l2.count() === nlist)
    val flat = centArt.select("cluster").collect().map(_.getInt(0)).toSet
    val grouped = l2.select("cluster").collect().map(_.getInt(0)).toSet
    assert(grouped === flat)
    // every group id in l2 exists in l1 (the probe's partition filter
    // can reach every centroid)
    val gids = l1.select("gid").collect().map(_.getInt(0)).toSet
    val used = l2.select("gid").distinct().collect().map(_.getInt(0)).toSet
    assert(used.subsetOf(gids))
  }

  test("full level-1 probe == flat probeCells at every depth") {
    val (emb, centArt, l1, l2) = fixture()
    val groups = l1.count().toInt
    val nlist = centArt.count().toInt
    for (q <- Seq(0L, 7L, 42L); np <- Seq(1, 3, 8, nlist)) {
      val qDf = emb.filter(col("vec_id") === q)
        .select(col("embedding").as("qv"))
      val flat = Similarity.probeCells(centArt, qDf, np)
      val two = Similarity.probe(centArt, Some((l1, l2)), Similarity.singleQuery(qDf),
        Some(groups), np).flatMap(_._2)
      assert(two === flat, s"two-level(full l1) != flat at q=$q np=$np")
    }
  }

  test("batch two-level probe == single-query form, per query") {
    val (emb, centArt, l1, l2) = fixture()
    val queries = emb.filter(col("vec_id").isin(0L, 7L, 42L))
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val batch = Similarity.probe(centArt, Some((l1, l2)), Similarity.batchQueries(queries),
        nprobeL1 = Some(2), nprobe = 4)
      .toMap.view.mapValues(_.toSet).toMap
    for (q <- Seq(0L, 7L, 42L)) {
      val qDf = emb.filter(col("vec_id") === q)
        .select(col("embedding").as("qv"))
      val single = Similarity.probe(centArt, Some((l1, l2)), Similarity.singleQuery(qDf),
        nprobeL1 = Some(2), nprobe = 4).flatMap(_._2)
      assert(batch(q) === single.toSet, s"batch != single at q=$q")
    }
  }

  test("buildDenseIndex past the nlist threshold emits + calibrates the hierarchy") {
    val emb = Tables(spark, TestSpark.sfDir, "embeddings").limit(400)
    val out = java.nio.file.Files.createTempDirectory("graft_hbuild").toString
    val idx = Similarity.buildDenseIndex(emb, out,
      Some(Similarity.IvfParams(nlist = 25, lloydIters = 2, numSub = 8,
        subDim = 8, numCentroids = 16, pqIters = 1, defaultNprobe = 4)),
      calibrateRecall = Some(0.8),
      coarseHierarchyMinNlist = 1)
    // artifacts exist and partition losslessly
    assert(idx.l1.isDefined && idx.l2.isDefined)
    assert(idx.l2.get.count() === idx.centroids.count())
    // the calibrated (nprobeL1, nprobe) pair is persisted in params...
    val params = spark.read.parquet(s"$out/params").head
    val npL1 = params.getAs[Int]("default_nprobe_l1")
    assert(npL1 === idx.defaultNprobeL1.get)
    assert(npL1 >= 1 && npL1 <= idx.l1.get.count().toInt)
    // ...and MEASURED: recall@k through the two-level probe at the
    // persisted pair meets the build's target
    val sample = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val truth = Similarity.calibrationTruth(idx.cells, sample, 20)
    val ann = Similarity.ivfSearchBatchPruned(idx.cells, idx.centroids,
        sample, idx.defaultNprobe.get, 20,
        hierarchy = Some((idx.l1.get, idx.l2.get)), nprobeL1 = Some(npL1))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val recall = truth.map { case (q, ids) =>
      ids.intersect(ann.getOrElse(q, Set.empty)).size.toDouble / ids.size
    }.sum / truth.size
    assert(recall >= 0.8, f"two-level recall $recall%.3f below the 0.8 target")
    // below the threshold (the default), no hierarchy is built
    val out2 = java.nio.file.Files.createTempDirectory("graft_hflat").toString
    val flat = Similarity.buildDenseIndex(emb, out2,
      Some(Similarity.IvfParams(nlist = 8, lloydIters = 1, numSub = 8,
        subDim = 8, numCentroids = 16, pqIters = 1, defaultNprobe = 2)))
    assert(flat.l1.isEmpty && flat.l2.isEmpty && flat.defaultNprobeL1.isEmpty)
    assert(spark.read.parquet(s"$out2/params").head
      .isNullAt(spark.read.parquet(s"$out2/params").schema
        .fieldIndex("default_nprobe_l1")))
  }

  test("uncalibrated hierarchy build persists FULL level-1 probe (flat parity)") {
    val emb = Tables(spark, TestSpark.sfDir, "embeddings").limit(300)
    val out = java.nio.file.Files.createTempDirectory("graft_huncal").toString
    val idx = Similarity.buildDenseIndex(emb, out,
      Some(Similarity.IvfParams(nlist = 16, lloydIters = 1, numSub = 8,
        subDim = 8, numCentroids = 16, pqIters = 1, defaultNprobe = 2)),
      coarseHierarchyMinNlist = 1)
    assert(idx.defaultNprobeL1 === Some(idx.l1.get.count().toInt))
  }

  test("joint (nprobeL1, nprobe) calibration meets the target and never costs more than the flat rung") {
    val (emb, centArt, l1, l2) = fixture()
    val cells = Similarity.assignCellsBulk(emb, centArt)
    val queries = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val n = emb.count()
    val truth = Similarity.calibrationTruth(cells, queries, 10)
    val (npL1, np) = Similarity.calibrateNprobePair(cells, l1, l2,
      queries, k = 10, targetRecall = 0.85, nRows = n, truth = Some(truth))
    val groups = l1.count().toInt
    val nlist = centArt.count().toInt
    assert(npL1 >= 1 && npL1 <= groups && np >= 1 && np <= nlist)
    // the pair's MEASURED recall through the serving path meets target
    val ann = Similarity.ivfSearchBatchPruned(cells, centArt, queries, np, 10,
        hierarchy = Some((l1, l2)), nprobeL1 = Some(npL1))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val recall = truth.map { case (q, ids) =>
      ids.intersect(ann.getOrElse(q, Set.empty)).size.toDouble / ids.size
    }.sum / truth.size
    assert(recall >= 0.85, f"joint pair ($npL1, $np) serves $recall%.3f")
    // cost dominance over the always-feasible flat rung: the joint sweep
    // considered (groups, minNp(groups)), so its winner cannot cost more
    val npFlat = Similarity.calibrateNprobe(cells, centArt, queries,
      10, 0.85, truth = Some(truth))
    def cost(a: Int, b: Int): Double =
      a.toDouble * nlist / groups + b.toDouble * n / nlist
    assert(cost(npL1, np) <= cost(groups, npFlat) + 1e-9,
      s"joint pair ($npL1, $np) costs more than the flat rung ($groups, $npFlat)")
  }

  test("joint calibration == brute-force sweep through the serving path (r18 cost-discipline regression pin)") {
    // the r18 calibrator resolves the per-rung nprobe search driver-side
    // from ONE thresholded candidate scan; this pins its chosen pair to
    // the answer the serving path itself gives — min feasible np per
    // ladder rung by LINEAR scan of two-level ivfSearchBatchPruned recall,
    // then the same cost argmin over feasible rungs
    val (emb, centArt, l1, l2) = fixture()
    val cells = Similarity.assignCellsBulk(emb, centArt)
    val queries = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val n = emb.count()
    val k = 10
    val target = 0.85
    val truth = Similarity.calibrationTruth(cells, queries, k)
    val groups = l1.count().toInt
    val nlist = centArt.count().toInt
    def recallAt(npL1: Int, np: Int): Double = {
      val ann = Similarity.ivfSearchBatchPruned(cells, centArt, queries, np, k,
          hierarchy = Some((l1, l2)), nprobeL1 = Some(npL1))
        .collect().map(r => r.getLong(0) -> r.getLong(1))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      truth.map { case (q, ids) =>
        ids.intersect(ann.getOrElse(q, Set.empty)).size.toDouble / ids.size
      }.sum / truth.size
    }
    val ladder = (Iterator.iterate(1)(_ * 2).takeWhile(_ < groups) ++
      Iterator.single(groups)).toSeq
    val feasible = ladder.flatMap { npL1 =>
      (1 to nlist).find(np => recallAt(npL1, np) >= target).map(np => (npL1, np))
    }
    def cost(p: (Int, Int)): Double =
      p._1.toDouble * nlist / groups + p._2.toDouble * n / nlist
    val expected = feasible.minBy(cost)
    val got = Similarity.calibrateNprobePair(cells, l1, l2, queries, k,
      target, n, truth = Some(truth))
    assert(got === expected,
      s"calibrator chose $got but the serving-path sweep says $expected " +
        s"(feasible: $feasible)")
  }

  test("matryoshka refine through the hierarchy: full-L1 probe == flat form, bit-for-bit") {
    val (emb, centArt, l1, l2) = fixture()
    val cells = Similarity.assignCellsBulk(emb, centArt)
    val groups = l1.count().toInt
    for (q <- Seq(0L, 7L)) {
      val qDf = emb.filter(col("vec_id") === q)
        .select(col("embedding").as("qv"))
      val flat = Similarity.matryoshkaRefineSearch(cells, centArt, qDf,
        dPrime = 16, nprobe = 4, kCoarse = 40, k = 10).collect().toSeq
      val two = Similarity.matryoshkaRefineSearch(cells, centArt, qDf,
        dPrime = 16, nprobe = 4, kCoarse = 40, k = 10,
        hierarchy = Some((l1, l2)), nprobeL1 = Some(groups)).collect().toSeq
      assert(two === flat, s"matryoshka two-level(full L1) != flat at q=$q")
      // default (no nprobeL1) resolves to full-L1 probe — same parity
      val twoDefault = Similarity.matryoshkaRefineSearch(cells, centArt, qDf,
        dPrime = 16, nprobe = 4, kCoarse = 40, k = 10,
        hierarchy = Some((l1, l2))).collect().toSeq
      assert(twoDefault === flat)
    }
  }

  test("matryoshka batch form == per-query form, bit-for-bit (r19)") {
    val (emb, centArt, l1, l2) = fixture()
    val cells = Similarity.assignCellsBulk(emb, centArt)
    val qids = Seq(0L, 7L, 11L)
    val queries = emb.filter(col("vec_id").isin(qids: _*))
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Double)] =
      df.collect().toSeq.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sortBy(identity)
    val batch = rows(Similarity.matryoshkaRefineSearchBatch(cells, centArt,
      queries, dPrime = 16, nprobe = 4, kCoarse = 40, k = 10)
      .select(col("query_id"), col("vec_id"), col("score")))
    val single = qids.flatMap { q =>
      val qDf = emb.filter(col("vec_id") === q).select(col("embedding").as("qv"))
      Similarity.matryoshkaRefineSearch(cells, centArt, qDf,
          dPrime = 16, nprobe = 4, kCoarse = 40, k = 10)
        .collect().toSeq.map(r => (q, r.getLong(0), r.getDouble(1)))
    }.sortBy(identity)
    assert(batch === single, "matryoshka batch form diverged from per-query form")
    // hierarchy dispatch at full L1 keeps the same parity
    val batchTwo = rows(Similarity.matryoshkaRefineSearchBatch(cells, centArt,
      queries, dPrime = 16, nprobe = 4, kCoarse = 40, k = 10,
      hierarchy = Some((l1, l2)))
      .select(col("query_id"), col("vec_id"), col("score")))
    assert(batchTwo === single)
  }

  test("adaptive planner through the hierarchy: full opening == flat planner, bit-for-bit; growth loop fills k") {
    val (emb, centArt, l1, l2) = fixture()
    val cells = Similarity.assignCellsBulk(emb, centArt)
    val groups = l1.count().toInt
    val qDf = emb.filter(col("vec_id") === 0)
      .select(col("embedding").as("qv"))
    // (a) full-open hint: the opened ranking IS the global cell ranking,
    // so the minimal-prefix rule must reproduce the flat planner exactly
    val flat = Similarity.ivfSearchAdaptivePruned(cells, centArt, qDf,
      k = 10).collect().toSeq
    val twoFull = Similarity.ivfSearchAdaptivePruned(cells, centArt, qDf,
      k = 10, hierarchy = Some((l1, l2)), nprobeL1 = Some(groups))
      .collect().toSeq
    assert(twoFull === flat, "two-level adaptive at full open != flat")
    // (b) a filter tighter than k forces the growth loop to exhaust every
    // group — the degenerate case is the flat planner again
    val allow = emb.filter(col("vec_id") < 5).select(col("vec_id"))
    val flatTight = Similarity.ivfSearchAdaptivePruned(cells, centArt, qDf,
      k = 10, restrictIds = Some(allow)).collect().toSeq
    val twoTight = Similarity.ivfSearchAdaptivePruned(cells, centArt, qDf,
      k = 10, restrictIds = Some(allow),
      hierarchy = Some((l1, l2)), nprobeL1 = Some(1)).collect().toSeq
    assert(twoTight === flatTight, "exhausted growth loop != flat planner")
    // (c) growth from a 1-group hint with a plentiful corpus still fills k
    val grown = Similarity.ivfSearchAdaptivePruned(cells, centArt, qDf,
      k = 10, hierarchy = Some((l1, l2)), nprobeL1 = Some(1)).collect()
    assert(grown.length === 10, s"growth loop under-filled: ${grown.length}")
    val scores = grown.map(_.getDouble(1)).toSeq
    assert(scores === scores.sorted.reverse, "scores not descending")
  }

  test("hierarchical assign: one group == flat bulk assign, bit-for-bit") {
    val emb = Tables(spark, TestSpark.sfDir, "embeddings").limit(300)
    val out = java.nio.file.Files.createTempDirectory("graft_hassign1").toString
    val cents = Similarity.kmeansFit(emb, 12, iters = 1)
    cents.coalesce(1).write.mode("overwrite").parquet(s"$out/centroids")
    cents.unpersist()
    val centArt = spark.read.parquet(s"$out/centroids")
    // groups=1: the within-group argmax ranges over ALL centroids, so the
    // IMI approximation vanishes and the two-stage assign must equal flat
    val (l1, l2) = Similarity.buildCoarseHierarchy(centArt, out, groups = 1)
    def cellMap(df: org.apache.spark.sql.DataFrame) = df
      .select(col("vec_id"), col("cluster"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) -1 else r.getAs[Number](1).intValue)).toMap
    assert(cellMap(Similarity.assignCellsHierarchical(emb, l1, l2)) ===
      cellMap(Similarity.assignCellsBulk(emb, centArt)))
  }

  test("hierarchical assign: cells stay within the nearest group (IMI property); null vector -> NULL cell") {
    val emb = Tables(spark, TestSpark.sfDir, "embeddings").limit(300)
    val out = java.nio.file.Files.createTempDirectory("graft_hassign3").toString
    val cents = Similarity.kmeansFit(emb, 12, iters = 1)
    cents.coalesce(1).write.mode("overwrite").parquet(s"$out/centroids")
    cents.unpersist()
    val centArt = spark.read.parquet(s"$out/centroids")
    val (l1, l2) = Similarity.buildCoarseHierarchy(centArt, out, groups = 3)
    // membership: every row's landed cell belongs to the row's nearest
    // NON-EMPTY group — recompute the level-1 winner directly
    val memb = l2.select(col("gid"), col("cluster"))
      .collect().map(r => r.getInt(1) -> r.getInt(0)).toMap
    val usedGids = memb.values.toSet
    val byGid = Similarity.assignCellsBulk(emb,
        l1.filter(col("gid").isin(usedGids.toSeq: _*))
          .select(col("gid").as("cluster"), col("gv").as("cv")))
      .select(col("vec_id"), col("cluster").as("gid"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val assigned = Similarity.assignCellsHierarchical(emb, l1, l2)
      .select(col("vec_id"), col("cluster"))
      .collect().map(r => r.getLong(0) -> r.getInt(1))
    assert(assigned.nonEmpty)
    assigned.foreach { case (id, cell) =>
      assert(memb(cell) === byGid(id),
        s"row $id landed in cell $cell of group ${memb(cell)}, " +
          s"but its nearest group is ${byGid(id)}")
    }
    // null-vector rows get a NULL cell (the assignCells contract)
    val withNull = emb.select(col("vec_id"),
      when(col("vec_id") === 5L, lit(null)).otherwise(col("embedding"))
        .as("embedding"))
    val nulled = Similarity.assignCellsHierarchical(withNull, l1, l2)
    assert(nulled.filter(col("vec_id") === 5L)
      .select("cluster").head.isNullAt(0))
    assert(nulled.filter(col("vec_id") =!= 5L)
      .filter(col("cluster").isNull).count() === 0)
  }

  test("partial level-1 probe draws only from the probed groups") {
    val (emb, centArt, l1, l2) = fixture()
    val qDf = emb.filter(col("vec_id") === 3L)
      .select(col("embedding").as("qv"))
    val got = Similarity.probe(centArt, Some((l1, l2)), Similarity.singleQuery(qDf),
      nprobeL1 = Some(2), nprobe = 100).flatMap(_._2)
    // recompute the 2 probed groups' membership directly
    val gids = l1.crossJoin(qDf)
      .select(col("gid"),
        round(graft.functions.VectorOps.dot(col("gv"), col("qv")), 6)
          .as("gs"))
      .orderBy(col("gs").desc, col("gid").asc).limit(2)
      .collect().map(_.getInt(0)).toSeq
    val member = l2.filter(col("gid").isin(gids: _*))
      .select("cluster").collect().map(_.getInt(0)).toSet
    assert(got.nonEmpty && got.toSet.subsetOf(member))
  }
}
