package graft

import graft.streaming.IncrementalIndex
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class IncrementalIndexSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("AvailableNow runs process only new files; re-runs are no-ops") {
    val base = java.nio.file.Files.createTempDirectory("graft_incr")
    val landing = base.resolve("landing").toString
    val sink = base.resolve("postings").toString
    val ckpt = base.resolve("ckpt").toString

    val docs = Tables(spark, TestSpark.sfDir, "documents").select("doc_id", "text")
    docs.write.parquet(landing)
    IncrementalIndex.updatePostings(spark, landing, sink, ckpt)
    val afterFirst = spark.read.parquet(sink).count()
    assert(afterFirst > 0)

    // second run, nothing new -> no growth
    IncrementalIndex.updatePostings(spark, landing, sink, ckpt)
    assert(spark.read.parquet(sink).count() === afterFirst)

    // land a new file (id-shifted copy) -> only its postings are appended
    docs.withColumn("doc_id", col("doc_id") + 100000)
      .write.mode("append").parquet(landing)
    IncrementalIndex.updatePostings(spark, landing, sink, ckpt)
    val afterThird = spark.read.parquet(sink)
    assert(afterThird.count() === 2 * afterFirst)
    // original ids were not reprocessed (no duplicates)
    val dups = afterThird.groupBy("id", "term").count().filter(col("count") > 1).count()
    assert(dups === 0)
  }

  test("IVF-scale landing assignment (bulk-kernel route) == knnJoin k=1") {
    // past 64 centroids updateDenseIndex dispatches the per-batch
    // assignment through assignCellsBulk (round 13 — the packed knnJoin's
    // interpreted per-row k-struct sort measured 312 s for a 10k-row
    // landing at nlist=4000). The landed cells must still be EXACTLY the
    // packed form's picks: round-4 HALF_UP sims, ties to the lowest id.
    import graft.operators.Similarity
    val base = java.nio.file.Files.createTempDirectory("graft_incr_bulk")
    val landing = base.resolve("landing").toString
    val sink = base.resolve("store").toString
    val ckpt = base.resolve("ckpt").toString
    val emb = Tables(spark, TestSpark.sfDir, "embeddings")
    // 100 centroids (> the 64 dispatch bound) drawn from the corpus rows
    // themselves — plenty of near-ties for the rounding/tie contract
    val cents = emb.filter(col("vec_id") < 100)
      .select(col("vec_id").cast("int").as("cluster"), col("embedding").as("cv"))
    emb.filter(col("vec_id") < 300).write.mode("append").parquet(landing)
    IncrementalIndex.updateDenseIndex(spark, landing, sink, ckpt, cents)
    val want = Similarity.knnJoin(emb.filter(col("vec_id") < 300),
        cents.select(col("cluster").cast("long").as("seed_id"), col("cv").as("sv")),
        k = 1)
      .collect().map(r => r.getLong(0) -> r.getAs[Number]("seed_id").longValue).toMap
    val got = spark.read.parquet(sink).select("vec_id", "cluster")
      .collect().map(r => r.getLong(0) -> r.getAs[Number]("cluster").longValue).toMap
    assert(got === want)
  }

  test("incremental dense index: batches land cell-partitioned, probe prunes directories") {
    import graft.operators.Similarity
    val base = java.nio.file.Files.createTempDirectory("graft_incr_dense")
    val landing = base.resolve("landing").toString
    val sink = base.resolve("store").toString
    val ckpt = base.resolve("ckpt").toString
    val emb = Tables(spark, TestSpark.sfDir, "embeddings")
    val cents = Similarity.centroids(emb)

    // batch 1 + batch 2 land disjoint id ranges
    emb.filter(col("vec_id") < 30).write.mode("append").parquet(landing)
    IncrementalIndex.updateDenseIndex(spark, landing, sink, ckpt, cents,
      centroidIdCol = "label", cellCol = "ivf_cell")
    emb.filter(col("vec_id") >= 30 && col("vec_id") < 50)
      .write.mode("append").parquet(landing)
    IncrementalIndex.updateDenseIndex(spark, landing, sink, ckpt, cents,
      centroidIdCol = "label", cellCol = "ivf_cell")

    val store = spark.read.parquet(sink)
    assert(store.count() === 50)
    // assignments match the batch operator's
    val want = Similarity.knnJoin(emb.filter(col("vec_id") < 50), cents
        .select(col("label").as("seed_id"), col("cv").as("sv")), k = 1)
      .collect().map(r => r.getLong(0) -> r.getAs[Number]("seed_id").longValue).toMap
    val got = store.select("vec_id", "ivf_cell")
      .collect().map(r => r.getLong(0) -> r.getAs[Number]("ivf_cell").longValue).toMap
    assert(got === want)
    // cell partitioning is physical: a cell predicate prunes to that
    // cell's directories
    val one = store.filter(col("ivf_cell") === lit(got(0L)))
    val plan = one.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(ivf_cell"),
      s"cell predicate not a partition filter:\n$plan")
    // idle re-run: no reprocessing
    IncrementalIndex.updateDenseIndex(spark, landing, sink, ckpt, cents,
      centroidIdCol = "label", cellCol = "ivf_cell")
    assert(spark.read.parquet(sink).count() === 50)
  }

  test("incremental dense index keeps the PQ codes artifact in lockstep") {
    import graft.operators.Similarity
    val base = java.nio.file.Files.createTempDirectory("graft_incr_pq")
    val landing = base.resolve("landing").toString
    val sink = base.resolve("store").toString
    val codes = base.resolve("codes").toString
    val ckpt = base.resolve("ckpt").toString
    val emb = Tables(spark, TestSpark.sfDir, "embeddings")
    val cents = Similarity.centroids(emb)
    val cb = Similarity.pqCodebooks(emb, 8, 8, 16)

    emb.filter(col("vec_id") < 30).write.mode("append").parquet(landing)
    IncrementalIndex.updateDenseIndex(spark, landing, sink, ckpt, cents,
      codebooks = Some(cb), codesDir = Some(codes),
      centroidIdCol = "label", cellCol = "ivf_cell")
    emb.filter(col("vec_id") >= 30 && col("vec_id") < 50)
      .write.mode("append").parquet(landing)
    IncrementalIndex.updateDenseIndex(spark, landing, sink, ckpt, cents,
      codebooks = Some(cb), codesDir = Some(codes),
      centroidIdCol = "label", cellCol = "ivf_cell")

    // accumulated codes == one-shot batch encode over everything landed
    val got = spark.read.parquet(codes)
      .select("vec_id", "m", "code")
      .collect().map(r => (r.getLong(0), r.getAs[Number]("m").intValue) ->
        r.getAs[Number]("code").intValue).toMap
    val want = Similarity.pqEncode(emb.filter(col("vec_id") < 50), cb, 8, 8)
      .collect().map(r => (r.getLong(0), r.getAs[Number]("m").intValue) ->
        r.getAs[Number]("code").intValue).toMap
    assert(got === want)
    // codes are cell-partitioned like the vector store: probing prunes dirs
    val plan = spark.read.parquet(codes).filter(col("ivf_cell") === 0)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(ivf_cell"),
      s"cell predicate not a partition filter on codes:\n$plan")
    // idle re-run: codes do not grow
    val n = spark.read.parquet(codes).count()
    IncrementalIndex.updateDenseIndex(spark, landing, sink, ckpt, cents,
      codebooks = Some(cb), codesDir = Some(codes),
      centroidIdCol = "label", cellCol = "ivf_cell")
    assert(spark.read.parquet(codes).count() === n)
  }

  test("incremental SQ8 store stays in lockstep; serving over it equals the batch build") {
    import graft.operators.Similarity
    val base = java.nio.file.Files.createTempDirectory("graft_incr_sq8")
    val landing = base.resolve("landing").toString
    val sink = base.resolve("store").toString
    val int8 = base.resolve("int8").toString
    val ckpt = base.resolve("ckpt").toString
    val emb = Tables(spark, TestSpark.sfDir, "embeddings")
    val cents = Similarity.centroids(emb)

    emb.filter(col("vec_id") < 30).write.mode("append").parquet(landing)
    IncrementalIndex.updateDenseIndex(spark, landing, sink, ckpt, cents,
      centroidIdCol = "label", cellCol = "ivf_cell", int8Dir = Some(int8))
    emb.filter(col("vec_id") >= 30 && col("vec_id") < 50)
      .write.mode("append").parquet(landing)
    IncrementalIndex.updateDenseIndex(spark, landing, sink, ckpt, cents,
      centroidIdCol = "label", cellCol = "ivf_cell", int8Dir = Some(int8))

    // accumulated byte store == one-shot encode of everything landed
    val got = spark.read.parquet(int8)
      .select(col("vec_id"), col("q8"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Byte](1).toSeq).toMap
    val want = Similarity.int8EncodeCells(
        spark.read.parquet(sink), clusterCol = "ivf_cell")
      .collect().map(r => r.getLong(0) -> r.getSeq[Byte](2).toSeq).toMap
    assert(got === want)
    assert(got.size === 50)
    // SQ8 two-stage serving over the INCREMENTAL artifacts == over a
    // one-shot batch encode of the same corpus (same probe, same knobs)
    val cells = spark.read.parquet(sink)
    val centArt = cents.select(col("label").as("ivf_cell"), col("cv"))
    val qv = emb.filter(col("vec_id") === 7).select(col("embedding").as("qv"))
    def results(i8: org.apache.spark.sql.DataFrame) =
      Similarity.ivfInt8RefineSearch(i8, cells, centArt, qv,
          nprobe = 2, kCoarse = 20, k = 10, clusterCol = "ivf_cell")
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val viaIncremental = results(spark.read.parquet(int8))
    val viaBatch = results(Similarity.int8EncodeCells(cells, clusterCol = "ivf_cell"))
    assert(viaIncremental === viaBatch)
    assert(viaIncremental.nonEmpty)
    // idle re-run: the byte store does not grow
    IncrementalIndex.updateDenseIndex(spark, landing, sink, ckpt, cents,
      centroidIdCol = "label", cellCol = "ivf_cell", int8Dir = Some(int8))
    assert(spark.read.parquet(int8).count() === 50)
    // the generic cell compaction applies to the byte store too: fold the
    // batch subtrees into one epoch, contents and serving unchanged
    IncrementalIndex.compactCells(spark, int8, cellCol = "ivf_cell")
    assert(spark.read.parquet(int8)
      .select(col("vec_id"), col("q8"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Byte](1).toSeq).toMap === want)
    assert(results(spark.read.parquet(int8)) === viaBatch)
  }

  test("incremental 1-bit signature store stays in lockstep; serving over it equals the batch build") {
    import graft.operators.Similarity
    val base = java.nio.file.Files.createTempDirectory("graft_incr_bin")
    val landing = base.resolve("landing").toString
    val sink = base.resolve("store").toString
    val bin = base.resolve("bin").toString
    val ckpt = base.resolve("ckpt").toString
    val emb = Tables(spark, TestSpark.sfDir, "embeddings")
    val cents = Similarity.centroids(emb)

    emb.filter(col("vec_id") < 30).write.mode("append").parquet(landing)
    IncrementalIndex.updateDenseIndex(spark, landing, sink, ckpt, cents,
      centroidIdCol = "label", cellCol = "ivf_cell", binDir = Some(bin))
    emb.filter(col("vec_id") >= 30 && col("vec_id") < 50)
      .write.mode("append").parquet(landing)
    IncrementalIndex.updateDenseIndex(spark, landing, sink, ckpt, cents,
      centroidIdCol = "label", cellCol = "ivf_cell", binDir = Some(bin))

    // accumulated signature store == one-shot encode of everything landed
    val got = spark.read.parquet(bin)
      .select(col("vec_id"), col("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toMap
    val want = Similarity.binaryEncodeCells(
        spark.read.parquet(sink), clusterCol = "ivf_cell")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](2).toSeq).toMap
    assert(got === want)
    assert(got.size === 50)
    // binary two-stage serving over the INCREMENTAL artifacts == over a
    // one-shot batch encode of the same corpus (same probe, same knobs)
    val cells = spark.read.parquet(sink)
    val centArt = cents.select(col("label").as("ivf_cell"), col("cv"))
    val qv = emb.filter(col("vec_id") === 7).select(col("embedding").as("qv"))
    def results(b: org.apache.spark.sql.DataFrame) =
      Similarity.ivfBinaryRefineSearch(b, cells, centArt, qv,
          nprobe = 2, kCoarse = 20, k = 10, clusterCol = "ivf_cell")
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val viaIncremental = results(spark.read.parquet(bin))
    val viaBatch = results(Similarity.binaryEncodeCells(cells, clusterCol = "ivf_cell"))
    assert(viaIncremental === viaBatch)
    assert(viaIncremental.nonEmpty)
    // idle re-run: the signature store does not grow
    IncrementalIndex.updateDenseIndex(spark, landing, sink, ckpt, cents,
      centroidIdCol = "label", cellCol = "ivf_cell", binDir = Some(bin))
    assert(spark.read.parquet(bin).count() === 50)
  }

  test("compaction reclaims the SQ8 and 1-bit coarse stores (no shortlist dilution)") {
    // r16 review finding: results after a delete stay correct (the refine
    // joins the masked cells), but an unreclaimed coarse store keeps dead
    // rows consuming kCoarse shortlist slots FOREVER — recall at the
    // calibrated knobs sinks as deletes accumulate. Pinned: compaction
    // with int8Dir/binDir physically drops tombstoned rows from both.
    import graft.operators.Similarity
    val base = java.nio.file.Files.createTempDirectory("graft_tomb_coarse")
    val landing = base.resolve("landing").toString
    val sink = base.resolve("store").toString
    val int8 = base.resolve("int8").toString
    val bin = base.resolve("bin").toString
    val ckpt = base.resolve("ckpt").toString
    val emb = Tables(spark, TestSpark.sfDir, "embeddings")
    val cents = Similarity.centroids(emb)

    emb.filter(col("vec_id") < 60).write.mode("append").parquet(landing)
    IncrementalIndex.updateDenseIndex(spark, landing, sink, ckpt, cents,
      centroidIdCol = "label", cellCol = "ivf_cell",
      int8Dir = Some(int8), binDir = Some(bin))
    val del = spark.range(10).select((col("id") * 6).as("vec_id"))
    assert(IncrementalIndex.deleteFromDenseIndex(spark, sink, del,
      cellCol = "ivf_cell") === 10L)
    IncrementalIndex.compactDenseStores(spark, sink,
      cellCol = "ivf_cell", int8Dir = Some(int8), binDir = Some(bin))
    // both coarse stores hold exactly the 50 survivors
    for (d <- Seq(int8, bin)) {
      assert(spark.read.parquet(d).count() === 50, d)
      assert(spark.read.parquet(d).filter(col("vec_id") % 6 === 0).count() === 0, d)
    }
    // two-stage serving over the reclaimed stores == over a fresh encode
    // of the survivors (identical knobs — no dead-row shortlist slots)
    val cells = spark.read.parquet(sink)
    val centArt = cents.select(col("label").as("ivf_cell"), col("cv"))
    val qv = emb.filter(col("vec_id") === 1).select(col("embedding").as("qv"))
    val viaBin = Similarity.ivfBinaryRefineSearch(spark.read.parquet(bin),
        cells, centArt, qv, nprobe = 2, kCoarse = 20, k = 10,
        clusterCol = "ivf_cell")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(viaBin === Similarity.ivfBinaryRefineSearch(
        Similarity.binaryEncodeCells(cells, clusterCol = "ivf_cell"),
        cells, centArt, qv, nprobe = 2, kCoarse = 20, k = 10,
        clusterCol = "ivf_cell")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq)
    assert(viaBin.nonEmpty && !viaBin.exists(_._1 % 6 == 0))
  }

  test("retrainAndSwap republishes the coarse hierarchy inside the version subtree") {
    import graft.operators.Similarity
    val base = java.nio.file.Files.createTempDirectory("graft_swap_hier")
    val root = base.resolve("index").toString
    val emb = Tables(spark, TestSpark.sfDir, "embeddings").limit(200)
    val out = base.resolve("fit").toString
    val cents = Similarity.kmeansFit(emb, 16, iters = 1)
    cents.coalesce(1).write.parquet(s"$out/centroids")
    cents.unpersist()
    val centArt = spark.read.parquet(s"$out/centroids")
    val v = IncrementalIndex.retrainAndSwap(spark, root, emb, store = None,
      coarseCentroids = Some(centArt))
    // the hierarchy resolves from the SAME version as the codebooks, and
    // full-probe serving parity holds through the republished artifact
    val (l1, l2) = IncrementalIndex.currentHierarchy(spark, root).get
    assert(l2.count() === 16)
    val groups = l1.count().toInt
    val qDf = emb.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    assert(Similarity.probe(centArt, Some((l1, l2)), Similarity.singleQuery(qDf),
        Some(groups), 4).flatMap(_._2) ===
      Similarity.probeCells(centArt, qDf, 4))
    // a flat retrain (no coarseCentroids) publishes no hierarchy
    val root2 = base.resolve("index2").toString
    IncrementalIndex.retrainAndSwap(spark, root2, emb, store = None)
    assert(IncrementalIndex.currentHierarchy(spark, root2).isEmpty)
    assert(v === 0L)
  }

  test("compactCells folds N batch subtrees into one epoch: fewer files, same rows, same pruning") {
    import graft.operators.Similarity
    val base = java.nio.file.Files.createTempDirectory("graft_compact")
    val landing = base.resolve("landing").toString
    val sink = base.resolve("store").toString
    val ckpt = base.resolve("ckpt").toString
    val emb = Tables(spark, TestSpark.sfDir, "embeddings")
    val cents = Similarity.centroids(emb)

    // land 4 micro-batches -> every cell's rows spread over 4 small files
    for (b <- 0 until 4) {
      emb.filter(col("vec_id") % 4 === b).limit(20)
        .write.mode("append").parquet(landing)
      IncrementalIndex.updateDenseIndex(spark, landing, sink, ckpt, cents,
      centroidIdCol = "label", cellCol = "ivf_cell")
    }
    def parquetFiles(dir: String): Seq[String] = {
      val root = new org.apache.hadoop.fs.Path(dir)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val it = fs.listFiles(root, true)
      val out = scala.collection.mutable.Buffer.empty[String]
      while (it.hasNext) {
        val f = it.next().getPath.toString
        if (f.endsWith(".parquet") && !f.contains("_compact_staging")) out += f
      }
      out.toSeq
    }
    def contents(dir: String) = spark.read.parquet(dir)
      .select("vec_id", "ivf_cell").collect()
      .map(r => r.getLong(0) -> r.getAs[Number]("ivf_cell").longValue)
      .sortBy(_._1).toSeq

    val before = contents(sink)
    val filesBefore = parquetFiles(sink)
    assert(filesBefore.count(_.contains("batch_id=0/")) > 0)

    IncrementalIndex.compactCells(spark, sink, cellCol = "ivf_cell")

    val filesAfter = parquetFiles(sink)
    assert(filesAfter.size < filesBefore.size,
      s"file count did not drop: ${filesBefore.size} -> ${filesAfter.size}")
    // one file per cell in exactly one compacted epoch subtree
    assert(filesAfter.forall(_.contains("batch_id=-1/")), filesAfter.mkString("\n"))
    assert(contents(sink) === before)
    // cell pruning is unchanged: the cell predicate is still a partition filter
    val plan = spark.read.parquet(sink).filter(col("ivf_cell") === 0)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(ivf_cell"),
      s"pruning lost after compaction:\n$plan")
    // compaction is idempotent: a second run with one subtree is a no-op
    IncrementalIndex.compactCells(spark, sink, cellCol = "ivf_cell")
    assert(contents(sink) === before)

    // new batches after compaction land normally and re-fold into the
    // NEXT epoch alongside the previous one
    emb.filter(col("vec_id") >= 400).limit(10)
      .write.mode("append").parquet(landing)
    IncrementalIndex.updateDenseIndex(spark, landing, sink, ckpt, cents,
      centroidIdCol = "label", cellCol = "ivf_cell")
    val withNew = contents(sink)
    assert(withNew.size === before.size + 10)
    IncrementalIndex.compactCells(spark, sink, cellCol = "ivf_cell")
    assert(contents(sink) === withNew)
    assert(parquetFiles(sink).forall(_.contains("batch_id=-2/")))
  }

  test("compactCells recovery: a crash after the manifest commit is finished, before it is rolled back") {
    import graft.operators.Similarity
    val base = java.nio.file.Files.createTempDirectory("graft_compact_crash")
    val landing = base.resolve("landing").toString
    val sink = base.resolve("store").toString
    val ckpt = base.resolve("ckpt").toString
    val emb = Tables(spark, TestSpark.sfDir, "embeddings")
    val cents = Similarity.centroids(emb)
    for (b <- 0 until 2) {
      emb.filter(col("vec_id") % 2 === b).limit(15)
        .write.mode("append").parquet(landing)
      IncrementalIndex.updateDenseIndex(spark, landing, sink, ckpt, cents,
      centroidIdCol = "label", cellCol = "ivf_cell")
    }
    def contents() = spark.read.parquet(sink)
      .select("vec_id").collect().map(_.getLong(0)).sorted.toSeq
    val before = contents()

    val root = new org.apache.hadoop.fs.Path(sink)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)

    // CRASH BEFORE COMMIT: staging written, no manifest -> recovery rolls
    // the debris back and the store is untouched
    spark.read.parquet(sink).drop("batch_id").withColumn("batch_id", lit(-1L))
      .write.partitionBy("batch_id", "ivf_cell")
      .parquet(s"$sink/_compact_staging")
    IncrementalIndex.recoverCompaction(spark, sink)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(root, "_compact_staging")))
    assert(contents() === before)
    assert(fs.listStatus(root).count(_.getPath.getName.startsWith("batch_id=")) === 2)

    // CRASH AFTER COMMIT: staging + manifest present, rename/deletes never
    // ran -> recovery finishes the compaction exactly once
    spark.read.parquet(sink).drop("batch_id").withColumn("batch_id", lit(-1L))
      .write.partitionBy("batch_id", "ivf_cell")
      .parquet(s"$sink/_compact_staging")
    val sources = fs.listStatus(root).map(_.getPath.getName)
      .filter(_.startsWith("batch_id=")).sorted
    val out = fs.create(new org.apache.hadoop.fs.Path(root, "_compact_manifest"), true)
    out.write(("-1" +: sources).mkString("\n").getBytes("UTF-8"))
    out.close()
    IncrementalIndex.recoverCompaction(spark, sink)
    assert(contents() === before)
    val dirs = fs.listStatus(root).map(_.getPath.getName).filter(_.startsWith("batch_id="))
    assert(dirs.toSeq === Seq("batch_id=-1"))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(root, "_compact_manifest")))
    // and recovery with nothing to recover is a no-op
    IncrementalIndex.recoverCompaction(spark, sink)
    assert(contents() === before)
  }

  test("drift gate: a stable batch passes, a shifted batch fails BEFORE anything lands") {
    import graft.operators.Similarity
    val base = java.nio.file.Files.createTempDirectory("graft_drift")
    val landing = base.resolve("landing").toString
    val sink = base.resolve("store").toString
    val codes = base.resolve("codes").toString
    val ckpt = base.resolve("ckpt").toString
    val emb = Tables(spark, TestSpark.sfDir, "embeddings")
    val cents = Similarity.centroids(emb)
    val cb = Similarity.pqCodebooks(emb, 8, 8, 16)
    // training-time distortion over the training corpus — persisted next
    // to the codebooks in production
    val trained = Similarity.quantizationDistortion(emb, cb, 8, 8)
    assert(trained > 0)
    // an EMPTY relation (zero-row micro-batch) has no quantization error —
    // the gate must see 0.0, not NPE on the null avg
    assert(Similarity.quantizationDistortion(emb.limit(0), cb, 8, 8) === 0.0)

    // stable batch: same distribution -> ~1x training distortion -> passes
    emb.filter(col("vec_id") < 40).write.mode("append").parquet(landing)
    IncrementalIndex.updateDenseIndex(spark, landing, sink, ckpt, cents,
      codebooks = Some(cb), codesDir = Some(codes),
      trainDistortion = Some(trained), driftTolerance = 1.5,
      centroidIdCol = "label", cellCol = "ivf_cell")
    assert(spark.read.parquet(sink).count() === 40)

    // drifted batch: vectors shifted far off the training distribution ->
    // the gate trips and NOTHING lands (cells and codes stay at 40)
    emb.filter(col("vec_id") >= 40 && col("vec_id") < 60)
      .withColumn("embedding", expr("transform(embedding, x -> x + 10.0f)"))
      .write.mode("append").parquet(landing)
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      IncrementalIndex.updateDenseIndex(spark, landing, sink, ckpt, cents,
        codebooks = Some(cb), codesDir = Some(codes),
        trainDistortion = Some(trained), driftTolerance = 1.5,
      centroidIdCol = "label", cellCol = "ivf_cell")
    }
    val messages = Iterator.iterate[Throwable](ex)(_.getCause)
      .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse("")).toSeq
    assert(messages.exists(_.contains("codebook drift")), messages.mkString("\n"))
    assert(spark.read.parquet(sink).count() === 40)
    assert(spark.read.parquet(codes).select("vec_id").distinct().count() === 40)
  }

  test("incremental cellstats deltas keep the adaptive-probe histogram in lockstep with the store") {
    import graft.operators.Similarity
    val base = java.nio.file.Files.createTempDirectory("graft_incr_stats")
    val landing = base.resolve("landing").toString
    val sink = base.resolve("store").toString
    val stats = base.resolve("cellstats").toString
    val ckpt = base.resolve("ckpt").toString
    val emb = Tables(spark, TestSpark.sfDir, "embeddings")
    val cents = Similarity.centroids(emb)

    emb.filter(col("vec_id") < 30).write.mode("append").parquet(landing)
    IncrementalIndex.updateDenseIndex(spark, landing, sink, ckpt, cents,
      centroidIdCol = "label", cellCol = "ivf_cell",
      statsCols = Seq("label"), statsDir = Some(stats))
    emb.filter(col("vec_id") >= 30 && col("vec_id") < 50)
      .write.mode("append").parquet(landing)
    IncrementalIndex.updateDenseIndex(spark, landing, sink, ckpt, cents,
      centroidIdCol = "label", cellCol = "ivf_cell",
      statsCols = Seq("label"), statsDir = Some(stats))

    // the accumulated batch DELTAS sum to exactly the histogram a batch
    // build would compute over the landed store — the planner's
    // sum-per-cell read makes the two artifacts interchangeable
    def statsMap(df: org.apache.spark.sql.DataFrame) = df
      .groupBy(col("ivf_cell"), col("label"))
      .agg(sum(col("cnt")).as("cnt"))
      .collect().map(r => (r.getAs[Number]("ivf_cell").intValue,
        r.getAs[Number]("label").intValue) -> r.getAs[Number]("cnt").longValue)
      .toMap
    val store = spark.read.parquet(sink)
    val got = statsMap(spark.read.parquet(stats))
    val want = statsMap(Similarity.cellStats(store, Seq("label"), "ivf_cell"))
    assert(got === want)

    // the delta artifact DRIVES adaptive serving over the incremental
    // store identically to a freshly batch-built histogram
    val qv = emb.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    val cents2 = cents.select(col("label").as("ivf_cell"), col("cv"))
    def serve(statsFrame: org.apache.spark.sql.DataFrame) =
      Similarity.ivfSearchAdaptivePruned(store, cents2, qv, k = 10,
        clusterCol = "ivf_cell", cellStats = Some(statsFrame),
        admissible = Some(col("label") === 3))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(serve(spark.read.parquet(stats)) ===
      serve(Similarity.cellStats(store, Seq("label"), "ivf_cell")))

    // idle re-run: no new deltas
    val n = spark.read.parquet(stats).count()
    IncrementalIndex.updateDenseIndex(spark, landing, sink, ckpt, cents,
      centroidIdCol = "label", cellCol = "ivf_cell",
      statsCols = Seq("label"), statsDir = Some(stats))
    assert(spark.read.parquet(stats).count() === n)

    // half-specifying the histogram leg fails fast (like the PQ leg)
    assertThrows[IllegalArgumentException] {
      IncrementalIndex.updateDenseIndex(spark, landing, sink, ckpt, cents,
        centroidIdCol = "label", cellCol = "ivf_cell",
        statsCols = Seq("label"), statsDir = None)
    }

    // compaction MERGES the deltas: one epoch subtree, summed rows, and
    // the planner cannot tell the difference
    def subtrees() = new java.io.File(stats).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("batch_id=")).map(_.getName).sorted
    assert(subtrees().length === 2)
    IncrementalIndex.compactStats(spark, stats, Seq("label"), "ivf_cell")
    assert(subtrees().toSeq === Seq("batch_id=-1"))
    assert(statsMap(spark.read.parquet(stats)) === want)
    assert(serve(spark.read.parquet(stats)) ===
      serve(Similarity.cellStats(store, Seq("label"), "ivf_cell")))
    // exactly one summed row per (cell, label) — actually folded, not
    // merely moved
    assert(spark.read.parquet(stats).groupBy("ivf_cell", "label").count()
      .filter(col("count") > 1).count() === 0)
    // single-subtree store: compaction is a no-op
    IncrementalIndex.compactStats(spark, stats, Seq("label"), "ivf_cell")
    assert(subtrees().toSeq === Seq("batch_id=-1"))

    // a post-compaction batch appends a new delta; re-compaction folds the
    // epoch and the new batch into the next epoch
    emb.filter(col("vec_id") >= 50 && col("vec_id") < 60)
      .write.mode("append").parquet(landing)
    IncrementalIndex.updateDenseIndex(spark, landing, sink, ckpt, cents,
      centroidIdCol = "label", cellCol = "ivf_cell",
      statsCols = Seq("label"), statsDir = Some(stats))
    assert(subtrees().length === 2)
    IncrementalIndex.compactStats(spark, stats, Seq("label"), "ivf_cell")
    assert(subtrees().toSeq === Seq("batch_id=-2"))
    assert(statsMap(spark.read.parquet(stats)) ===
      statsMap(Similarity.cellStats(spark.read.parquet(sink), Seq("label"), "ivf_cell")))
  }

  test("drift-gate retrain + atomic swap: a tripped batch retrains, swaps, and lands on replay") {
    import graft.operators.Similarity
    val base = java.nio.file.Files.createTempDirectory("graft_swap")
    val landing = base.resolve("landing").toString
    val sink = base.resolve("store").toString
    val ckpt = base.resolve("ckpt").toString
    val indexRoot = base.resolve("index").toString
    val stats = base.resolve("cellstats").toString
    val emb = Tables(spark, TestSpark.sfDir, "embeddings")
    val cents = Similarity.centroids(emb)

    val bin = base.resolve("bin").toString

    // batch 1 bootstraps version 0 from the landing data and lands cleanly
    emb.filter(col("vec_id") < 40).write.mode("append").parquet(landing)
    IncrementalIndex.updateDenseIndexVersioned(spark, landing, sink, ckpt,
      cents, indexRoot, centroidIdCol = "label", cellCol = "ivf_cell",
      statsCols = Seq("label"), statsDir = Some(stats),
      binDir = Some(bin), coarseHierarchy = true)
    assert(IncrementalIndex.currentVersion(spark, indexRoot) === Some(0L))
    // the bootstrap version carries the coarse hierarchy (VERDICT r15 #8)
    assert(IncrementalIndex.currentHierarchy(spark, indexRoot).isDefined)
    assert(spark.read.parquet(sink).count() === 40)
    val (_, d0, v0, codes0) = IncrementalIndex.currentCodebooks(spark, indexRoot)
    assert(v0 === 0L && d0 > 0)
    assert(spark.read.parquet(codes0).select("vec_id").distinct().count() === 40)

    // batch 2 is drifted: under plain updateDenseIndex the gate wedges the
    // stream (asserted in the drift-gate test above); the versioned wrapper
    // must instead retrain on store+landing, atomically publish v=1, and
    // re-run so the checkpoint replays the gated batch against the new
    // codebooks — landing it WITHOUT manual intervention
    emb.filter(col("vec_id") >= 40 && col("vec_id") < 60)
      .withColumn("embedding", expr("transform(embedding, x -> x + 10.0f)"))
      .write.mode("append").parquet(landing)
    IncrementalIndex.updateDenseIndexVersioned(spark, landing, sink, ckpt,
      cents, indexRoot, centroidIdCol = "label", cellCol = "ivf_cell",
      statsCols = Seq("label"), statsDir = Some(stats),
      binDir = Some(bin), coarseHierarchy = true)
    assert(IncrementalIndex.currentVersion(spark, indexRoot) === Some(1L))
    assert(spark.read.parquet(sink).count() === 60)

    // the RETRAINED version republished the hierarchy: it resolves from
    // v=1 and full-L1 probe keeps bit-parity with the flat probe over the
    // same (unmoved) coarse centroids
    val (l1v, l2v) = IncrementalIndex.currentHierarchy(spark, indexRoot).get
    val qDf = emb.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    val centFlat = cents.select(col("label").as("cluster"), col("cv"))
    assert(Similarity.probe(centFlat, Some((l1v, l2v)), Similarity.singleQuery(qDf),
        Some(l1v.count().toInt), 4).flatMap(_._2) ===
      Similarity.probeCells(centFlat, qDf, 4))

    // the 1-bit signature store stayed in lockstep through gate + retrain
    // + replay: accumulated deltas == one-shot encode of the landed store
    assert(spark.read.parquet(bin)
        .select(col("vec_id"), col("sig"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toMap ===
      Similarity.binaryEncodeCells(spark.read.parquet(sink),
          clusterCol = "ivf_cell")
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](2).toSeq).toMap)

    // the adaptive-probe histogram survived the retrain IN LOCKSTEP: the
    // gate threw before the drifted batch wrote anything, and the replay
    // wrote its delta exactly once — accumulated deltas equal a fresh
    // batch-built histogram over the post-swap store (cells are keyed to
    // the coarse centroids, which a PQ retrain does not move)
    def statsMap(df: org.apache.spark.sql.DataFrame) = df
      .groupBy(col("ivf_cell"), col("label"))
      .agg(sum(col("cnt")).as("cnt"))
      .collect().map(r => (r.getAs[Number]("ivf_cell").intValue,
        r.getAs[Number]("label").intValue) -> r.getAs[Number]("cnt").longValue)
      .toMap
    assert(statsMap(spark.read.parquet(stats)) ===
      statsMap(Similarity.cellStats(spark.read.parquet(sink), Seq("label"), "ivf_cell")))

    // the live version is one consistent triple: its codes cover ALL 60
    // rows (40 re-encoded at swap time + 20 landed on replay) and agree
    // with a batch re-encode of the landed store under the LIVE codebooks
    val (cb1, _, v1, codes1) = IncrementalIndex.currentCodebooks(spark, indexRoot)
    assert(v1 === 1L)
    val got = spark.read.parquet(codes1).select("vec_id", "m", "code")
      .collect().map(r => (r.getLong(0), r.getAs[Number]("m").intValue) ->
        r.getAs[Number]("code").intValue).toMap
    val want = Similarity.pqEncode(
        spark.read.parquet(sink).select("vec_id", "embedding"), cb1, 8, 8)
      .collect().map(r => (r.getLong(0), r.getAs[Number]("m").intValue) ->
        r.getAs[Number]("code").intValue).toMap
    assert(got === want)
    // the predecessor version is kept for in-flight readers
    assert(new java.io.File(s"$indexRoot/v=0").isDirectory)

    // idle re-run: nothing new -> no retrain, no version churn, no deltas
    val nStats = spark.read.parquet(stats).count()
    IncrementalIndex.updateDenseIndexVersioned(spark, landing, sink, ckpt,
      cents, indexRoot, centroidIdCol = "label", cellCol = "ivf_cell",
      statsCols = Seq("label"), statsDir = Some(stats),
      binDir = Some(bin), coarseHierarchy = true)
    assert(IncrementalIndex.currentVersion(spark, indexRoot) === Some(1L))
    assert(spark.read.parquet(sink).count() === 60)
    assert(spark.read.parquet(stats).count() === nStats)
  }

  test("hierarchy-routed landing: batches assign through the published l1/l2 (accumulated == one-shot)") {
    import graft.operators.Similarity
    val base = java.nio.file.Files.createTempDirectory("graft_hland")
    val landing = base.resolve("landing").toString
    val sink = base.resolve("store").toString
    val ckpt = base.resolve("ckpt").toString
    val indexRoot = base.resolve("index").toString
    val emb = Tables(spark, TestSpark.sfDir, "embeddings")
    val centsP = base.resolve("cents").toString
    val k = Similarity.kmeansFit(emb, 16, iters = 1)
    k.coalesce(1).write.parquet(centsP)
    k.unpersist()
    val cents = spark.read.parquet(centsP)

    // two separate maintenance runs against a hierarchy-carrying version
    emb.filter(col("vec_id") < 50).write.mode("append").parquet(landing)
    IncrementalIndex.updateDenseIndexVersioned(spark, landing, sink, ckpt,
      cents, indexRoot, coarseHierarchy = true)
    emb.filter(col("vec_id") >= 50 && col("vec_id") < 90)
      .write.mode("append").parquet(landing)
    IncrementalIndex.updateDenseIndexVersioned(spark, landing, sink, ckpt,
      cents, indexRoot, coarseHierarchy = true)

    val (l1, l2) = IncrementalIndex.currentHierarchy(spark, indexRoot).get
    val landed = spark.read.parquet(sink)
    assert(landed.count() === 90)
    // ACCUMULATED == ONE-SHOT (VERDICT r16 #3): the per-batch landings
    // produce exactly the cells a one-shot hierarchical assign of the same
    // rows gives — i.e. the landing actually routed through l1/l2 at the
    // landing path's round-4 grain, not the flat argmax
    val got = landed.select(col("vec_id"), col("cluster"))
      .collect().map(r => r.getLong(0) -> r.getAs[Number](1).longValue).toMap
    val want = Similarity.assignCellsHierarchical(
        emb.filter(col("vec_id") < 90).select(col("vec_id"), col("embedding")),
        l1, l2, simRound = 4)
      .select(col("vec_id"), col("cluster"))
      .collect().map(r => r.getLong(0) -> r.getAs[Number](1).longValue).toMap
    assert(got === want)
  }

  test("version swap is crash-safe: pre-commit debris is discarded, post-commit swaps are finished") {
    import graft.operators.Similarity
    val base = java.nio.file.Files.createTempDirectory("graft_swap_crash")
    val indexRoot = base.resolve("index").toString
    val emb = Tables(spark, TestSpark.sfDir, "embeddings")
    val corpus = emb.filter(col("vec_id") < 40).select("vec_id", "embedding")

    val v0 = IncrementalIndex.retrainAndSwap(spark, indexRoot, corpus, None)
    assert(v0 === 0L)
    val (_, _, _, _) = IncrementalIndex.currentCodebooks(spark, indexRoot)

    // CRASH BEFORE COMMIT: staged subtree + tmp manifest exist but the
    // manifest was never renamed in -> readers still resolve v=0, and
    // recovery discards the debris without publishing anything
    val fs = new org.apache.hadoop.fs.Path(indexRoot)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$indexRoot/_version_staging/v=1/codebooks"))
    val tmp = fs.create(new org.apache.hadoop.fs.Path(s"$indexRoot/_version_manifest.tmp"), true)
    tmp.write("1".getBytes("UTF-8")); tmp.close()
    assert(IncrementalIndex.currentVersion(spark, indexRoot) === Some(0L))
    IncrementalIndex.recoverVersionSwap(spark, indexRoot)
    assert(IncrementalIndex.currentVersion(spark, indexRoot) === Some(0L))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$indexRoot/_version_staging")))

    // CRASH AFTER COMMIT: stage a real v=1 and commit its manifest, but
    // "crash" before the rename+CURRENT flip. A reader that resolves now
    // still sees v=0 (the staged subtree is invisible); recovery finishes
    // the swap and the SAME reader call then sees v=1 — never a mixture.
    val cb1 = Similarity.pqCodebooks(corpus, 8, 8, 16)
    cb1.coalesce(1).write.parquet(s"$indexRoot/_version_staging/v=1/codebooks")
    spark.range(1).select(lit(0.123).as("train_distortion"))
      .write.parquet(s"$indexRoot/_version_staging/v=1/stats")
    val m = fs.create(new org.apache.hadoop.fs.Path(s"$indexRoot/_version_manifest"), true)
    m.write("1".getBytes("UTF-8")); m.close()
    assert(IncrementalIndex.currentCodebooks(spark, indexRoot)._3 === 0L)
    IncrementalIndex.recoverVersionSwap(spark, indexRoot)
    val (_, d1, v1, _) = IncrementalIndex.currentCodebooks(spark, indexRoot)
    assert(v1 === 1L && d1 === 0.123)

    // a further publish prunes versions older than the predecessor
    val v2 = IncrementalIndex.retrainAndSwap(spark, indexRoot, corpus, None)
    assert(v2 === 2L)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$indexRoot/v=0")))
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$indexRoot/v=1")))
  }

  test("half-specifying the PQ leg fails fast instead of silently skipping it") {
    import graft.operators.Similarity
    val base = java.nio.file.Files.createTempDirectory("graft_halfpq")
    val emb = Tables(spark, TestSpark.sfDir, "embeddings")
    val cents = Similarity.centroids(emb)
    val cb = Similarity.pqCodebooks(emb, 8, 8, 16)
    assertThrows[IllegalArgumentException] {
      IncrementalIndex.updateDenseIndex(spark, s"$base/landing", s"$base/store",
        s"$base/ckpt", cents, codebooks = Some(cb), codesDir = None)
    }
    assertThrows[IllegalArgumentException] {
      IncrementalIndex.updateDenseIndex(spark, s"$base/landing", s"$base/store",
        s"$base/ckpt", cents, codebooks = None, codesDir = Some(s"$base/codes"))
    }
  }

  test("streaming ANN serving: micro-batched results equal the one-shot batch search") {
    import graft.operators.Similarity
    val emb = Tables(spark, TestSpark.sfDir, "embeddings")
    val cents = Similarity.kmeansFit(emb, k = 4, iters = 2)
    val cells = Similarity.assignCells(emb, cents)
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    // stage one file per query so maxFilesPerTrigger really splits the run
    val stage = java.nio.file.Files.createTempDirectory("graft_annq_spec")
    (0 until 5).foreach { i =>
      val tmp = java.nio.file.Files.createTempDirectory(s"graft_annq_tmp$i")
      queries.filter(col("query_id") === i)
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath, stage.resolve(s"q$i.parquet"))
    }
    def sorted(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "vec_id").collect().map(_.toString).toSeq
    val want = sorted(
      Similarity.ivfSearchBatchPruned(cells, cents, queries, nprobe = 2, k = 7))
    // 5 one-query batches and a 4+1 split must both equal the one-shot run:
    // per-query top-k carries no cross-batch state
    for (mft <- Seq(1, 4)) {
      val got = sorted(IncrementalIndex.serveAnnStream(
        spark, stage.toString, cells, cents, nprobe = 2, k = 7,
        maxFilesPerTrigger = mft))
      assert(got === want, s"maxFilesPerTrigger=$mft diverged from batch serving")
    }
    cents.unpersist()
  }

  test("incremental refresh loop: streaming sink -> fitted index -> identical scores") {
    import graft.operators.Lexical
    val base = java.nio.file.Files.createTempDirectory("graft_incr_loop")
    val landing = base.resolve("landing").toString
    val sink = base.resolve("postings").toString
    val ckpt = base.resolve("ckpt").toString
    import spark.implicits._
    val b1 = Seq((1L, "spark join table"), (2L, "join scan")).toDF("doc_id", "text")
    val b2 = Seq((3L, "table spark spark")).toDF("doc_id", "text")

    // two maintenance runs land two batches into the postings sink
    b1.write.mode("append").parquet(landing)
    IncrementalIndex.updatePostings(spark, landing, sink, ckpt)
    b2.write.mode("append").parquet(landing)
    IncrementalIndex.updatePostings(spark, landing, sink, ckpt)

    // refresh the fitted index FROM THE SINK (no raw text touched) and
    // search: scores must equal a from-scratch build over the full corpus
    val allDocs = b1.unionByName(b2)
    val fromSink = Lexical.writeIndexFromPostings(spark,
      spark.read.parquet(sink).drop("batch_id"), nDocs = allDocs.count(),
      s"$base/idx_sink", buckets = 2)
    val fromDocs = Lexical.writeIndex(spark, allDocs, "doc_id", "text",
      s"$base/idx_docs", buckets = 2)
    def scores(idx: Lexical.SparseIndex) =
      Lexical.tfidfSearchIndexed(spark, idx, Seq("spark", "join"))
        .collect().map(r => r.getLong(0) -> math.rint(r.getDouble(1) * 1e9)).toMap
    assert(scores(fromSink) === scores(fromDocs))
    assert(scores(fromSink).keySet === Set(1L, 2L, 3L))
  }

  test("build/maintain interop: buildDenseIndex artifacts feed updateDenseIndex and serve with DEFAULT column names") {
    import graft.operators.Similarity
    val base = java.nio.file.Files.createTempDirectory("graft_interop")
    val landing = base.resolve("landing").toString
    val store = base.resolve("store").toString
    val ckpt = base.resolve("ckpt").toString
    val emb = Tables(spark, TestSpark.sfDir, "embeddings")
    // build-time artifacts: centroid table named `cluster`, exactly what
    // buildDenseIndex persists and the pruned serving paths read
    val idx = Similarity.buildDenseIndex(
      emb.filter(col("vec_id") < 200), base.resolve("idx").toString,
      Some(Similarity.IvfParams(nlist = 4, lloydIters = 1, numSub = 8,
        subDim = 8, numCentroids = 16, pqIters = 1, defaultNprobe = 2)))

    // new rows land; maintenance assigns them against the BUILD centroids
    // with no renames (centroidIdCol/cellCol default to "cluster")
    emb.filter(col("vec_id") >= 200 && col("vec_id") < 260)
      .write.mode("append").parquet(landing)
    IncrementalIndex.updateDenseIndex(spark, landing, store, ckpt, idx.centroids)

    val incr = spark.read.parquet(store)
    assert(incr.count() === 60)
    // the incremental store serves through the SAME pruned path as the
    // build-time cells table — default clusterCol, no renames anywhere
    val qv = emb.filter(col("vec_id") === 210).select(col("embedding").as("qv"))
    val got = Similarity.ivfSearchPruned(
      incr.drop("batch_id"), idx.centroids, qv, nprobe = 4, k = 5)
      .collect().map(_.getLong(0)).toSeq
    assert(got.nonEmpty)
    assert(got.contains(210L), s"self-hit missing from $got")
    // and the cell predicate is still a partition filter on the store
    val plan = incr.filter(col("cluster") === 0)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(cluster"),
      s"cluster predicate not a partition filter:\n$plan")
  }

  test("maintenance auto-detects the cell partition column from the store layout") {
    import graft.operators.Similarity
    val base = java.nio.file.Files.createTempDirectory("graft_detect")
    val landing = base.resolve("landing").toString
    val sink = base.resolve("store").toString
    val ckpt = base.resolve("ckpt").toString
    val emb = Tables(spark, TestSpark.sfDir, "embeddings")
    val cents = Similarity.centroids(emb)
    // a store landed under the PRE-round-7 default cell column
    emb.filter(col("vec_id") < 30).write.mode("append").parquet(landing)
    IncrementalIndex.updateDenseIndex(spark, landing, sink, ckpt, cents,
      centroidIdCol = "label", cellCol = "ivf_cell")
    // DEFAULT-invoked ingest keeps the existing layout instead of landing
    // a second partition column beside it (which would fail every read)
    emb.filter(col("vec_id") >= 30 && col("vec_id") < 50)
      .write.mode("append").parquet(landing)
    IncrementalIndex.updateDenseIndex(spark, landing, sink, ckpt, cents,
      centroidIdCol = "label")
    val store = spark.read.parquet(sink)
    assert(store.count() === 50)
    assert(store.columns.contains("ivf_cell") && !store.columns.contains("cluster"))
    // default-invoked compaction folds the detected ivf_cell= layout
    IncrementalIndex.compactCells(spark, sink)
    val compacted = spark.read.parquet(sink)
    assert(compacted.count() === 50)
    assert(compacted.columns.contains("ivf_cell"))
    // deletes + reclamation with defaults resolve the layout too
    assert(IncrementalIndex.deleteFromDenseIndex(spark, sink,
      spark.range(5).select(col("id").as("vec_id"))) === 5L)
    IncrementalIndex.compactDenseStores(spark, sink)
    assert(spark.read.parquet(sink).count() === 45)
    assert(IncrementalIndex.tombstones(spark, sink).isEmpty)
  }

  test("reclamation refuses a build-time artifact layout: tombstones survive, masking intact") {
    import graft.operators.Similarity
    val base = java.nio.file.Files.createTempDirectory("graft_tomb_build")
    val emb = Tables(spark, TestSpark.sfDir, "embeddings")
    Similarity.buildDenseIndex(
      emb.filter(col("vec_id") < 100), base.resolve("idx").toString,
      Some(Similarity.IvfParams(nlist = 4, lloydIters = 1, numSub = 8,
        subDim = 8, numCentroids = 16, pqIters = 1, defaultNprobe = 2)))
    val cellsDir = base.resolve("idx").resolve("cells").toString
    val del = spark.range(5).select(col("id").as("vec_id"))
    assert(IncrementalIndex.deleteFromDenseIndex(spark, cellsDir, del) === 5L)
    assert(IncrementalIndex.loadDenseStore(spark, cellsDir)
      .filter(col("vec_id") < 5).count() === 0)
    // physical reclamation must fail BEFORE mutating anything: the folds
    // only rewrite batch_id= subtrees, so on this layout a silent no-op
    // fold followed by the tombstone clear would RESURRECT the deleted ids
    val ex = intercept[IllegalArgumentException] {
      IncrementalIndex.compactDenseStores(spark, cellsDir)
    }
    assert(ex.getMessage.contains("applyDeletes"))
    // the mask is untouched: tombstones live, serving still hides the ids
    assert(IncrementalIndex.tombstones(spark, cellsDir).isDefined)
    assert(IncrementalIndex.loadDenseStore(spark, cellsDir)
      .filter(col("vec_id") < 5).count() === 0)
    assert(IncrementalIndex.loadDenseStore(spark, cellsDir).count() === 95)
  }

  test("tombstone deletes: masked serving, lockstep histogram, physical reclaim at compaction") {
    import graft.operators.Similarity
    val base = java.nio.file.Files.createTempDirectory("graft_tomb")
    val landing = base.resolve("landing").toString
    val sink = base.resolve("store").toString
    val codes = base.resolve("codes").toString
    val stats = base.resolve("cellstats").toString
    val ckpt = base.resolve("ckpt").toString
    val emb = Tables(spark, TestSpark.sfDir, "embeddings")
    val cents = Similarity.centroids(emb)
    val cb = Similarity.pqCodebooks(emb, 8, 8, 16)

    // two landed batches with the codes and histogram legs live
    emb.filter(col("vec_id") < 30).write.mode("append").parquet(landing)
    IncrementalIndex.updateDenseIndex(spark, landing, sink, ckpt, cents,
      codebooks = Some(cb), codesDir = Some(codes),
      centroidIdCol = "label", cellCol = "ivf_cell",
      statsCols = Seq("label"), statsDir = Some(stats))
    emb.filter(col("vec_id") >= 30 && col("vec_id") < 60)
      .write.mode("append").parquet(landing)
    IncrementalIndex.updateDenseIndex(spark, landing, sink, ckpt, cents,
      codebooks = Some(cb), codesDir = Some(codes),
      centroidIdCol = "label", cellCol = "ivf_cell",
      statsCols = Seq("label"), statsDir = Some(stats))

    // delete every 6th landed id; re-running the SAME delete is a no-op
    // (10 ids: 0, 6, ..., 54 — all < 60 so all are present in the store)
    val del = spark.range(10).select((col("id") * 6).as("vec_id"))
    assert(IncrementalIndex.deleteFromDenseIndex(spark, sink, del,
      cellCol = "ivf_cell", statsCols = Seq("label")) === 10L)
    assert(IncrementalIndex.deleteFromDenseIndex(spark, sink, del,
      cellCol = "ivf_cell", statsCols = Seq("label")) === 0L)
    // a superset delete tombstones only the NEW ids (60 is not landed)
    assert(IncrementalIndex.deleteFromDenseIndex(spark, sink,
      spark.range(11).select((col("id") * 6).as("vec_id")),
      cellCol = "ivf_cell", statsCols = Seq("label")) === 0L)

    // masked serving: the loaded store hides exactly the dead ids, and
    // full-probe pruned search over it equals exact search over survivors
    val live = IncrementalIndex.loadDenseStore(spark, sink)
    assert(live.count() === 50)
    assert(live.filter(col("vec_id") % 6 === 0).count() === 0)
    val qv = emb.filter(col("vec_id") === 1).select(col("embedding").as("qv"))
    val cents2 = cents.select(col("label").as("ivf_cell"), col("cv"))
    def hits(df: org.apache.spark.sql.DataFrame) =
      Similarity.ivfSearchPruned(df, cents2, qv, nprobe = 100, k = 10,
        clusterCol = "ivf_cell")
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val survivors = hits(spark.read.parquet(sink).filter(col("vec_id") % 6 =!= 0))
    assert(hits(live) === survivors)
    assert(survivors.nonEmpty && !survivors.exists(_._1 % 6 == 0))

    // lockstep histogram WITHOUT a stats rewrite: deltas minus the
    // tombstones' own histogram == a fresh histogram over the live store,
    // and the adaptive planner serves identically from either
    def statsMap(df: org.apache.spark.sql.DataFrame) = df
      .groupBy(col("ivf_cell"), col("label"))
      .agg(sum(col("cnt")).as("cnt")).filter(col("cnt") =!= 0)
      .collect().map(r => (r.getAs[Number]("ivf_cell").intValue,
        r.getAs[Number]("label").intValue) -> r.getAs[Number]("cnt").longValue)
      .toMap
    val liveStats = IncrementalIndex.liveCellStats(
      spark, stats, sink, Seq("label"), "ivf_cell")
    assert(statsMap(liveStats) ===
      statsMap(Similarity.cellStats(live, Seq("label"), "ivf_cell")))
    def serveAdaptive(statsFrame: org.apache.spark.sql.DataFrame) =
      Similarity.ivfSearchAdaptivePruned(live, cents2, qv, k = 10,
        clusterCol = "ivf_cell", cellStats = Some(statsFrame),
        admissible = Some(col("label") === 3))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(serveAdaptive(liveStats) ===
      serveAdaptive(Similarity.cellStats(live, Seq("label"), "ivf_cell")))
    // the BATCH planner must accept the delta store's LONG cell ids too
    // (regression: a getInt histogram collect ClassCastExceptions here)
    val qb = emb.filter(col("vec_id").isin(1, 2))
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    def serveBatchAdaptive(statsFrame: org.apache.spark.sql.DataFrame) =
      Similarity.ivfSearchBatchAdaptive(live, cents2, qb, k = 5,
        cellStats = statsFrame, admissible = Some(col("label") === 3),
        clusterCol = "ivf_cell")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(serveBatchAdaptive(liveStats).nonEmpty)
    assert(serveBatchAdaptive(liveStats) ===
      serveBatchAdaptive(Similarity.cellStats(live, Seq("label"), "ivf_cell")))

    // compaction reclaims physically across all three stores and consumes
    // the tombstones
    IncrementalIndex.compactDenseStores(spark, sink, Some(codes), Some(stats),
      statsCols = Seq("label"), cellCol = "ivf_cell")
    assert(spark.read.parquet(sink).count() === 50)
    assert(spark.read.parquet(sink).filter(col("vec_id") % 6 === 0).count() === 0)
    assert(spark.read.parquet(codes).select("vec_id").distinct().count() === 50)
    assert(spark.read.parquet(codes)
      .filter(col("vec_id") % 6 === 0).count() === 0)
    assert(IncrementalIndex.tombstones(spark, sink).isEmpty)
    assert(statsMap(spark.read.parquet(stats)) ===
      statsMap(Similarity.cellStats(
        spark.read.parquet(sink), Seq("label"), "ivf_cell")))
    // post-compaction the masked load degenerates to the plain read and
    // serving is unchanged
    assert(hits(IncrementalIndex.loadDenseStore(spark, sink)) === survivors)
    // compaction with nothing to do is a no-op
    IncrementalIndex.compactDenseStores(spark, sink, Some(codes), Some(stats),
      statsCols = Seq("label"), cellCol = "ivf_cell")
    assert(spark.read.parquet(sink).count() === 50)

    // a batch landed AFTER the compaction keeps every leg in lockstep
    emb.filter(col("vec_id") >= 60 && col("vec_id") < 70)
      .write.mode("append").parquet(landing)
    IncrementalIndex.updateDenseIndex(spark, landing, sink, ckpt, cents,
      codebooks = Some(cb), codesDir = Some(codes),
      centroidIdCol = "label", cellCol = "ivf_cell",
      statsCols = Seq("label"), statsDir = Some(stats))
    assert(spark.read.parquet(sink).count() === 60)
    assert(statsMap(IncrementalIndex.liveCellStats(
      spark, stats, sink, Seq("label"), "ivf_cell")) ===
      statsMap(Similarity.cellStats(
        spark.read.parquet(sink), Seq("label"), "ivf_cell")))
  }

  test("detectCellCol fails loudly on a store split across two cell columns") {
    // the damage this seam guards against: half the store landed under the
    // old default ("ivf_cell"), half under the new ("cluster"). Resolving
    // by listStatus order would silently keep extending one half — the
    // detector must refuse instead.
    val base = java.nio.file.Files.createTempDirectory("graft_split_store")
    val dir = s"$base/sink"
    val df = spark.range(10).select(col("id").as("vec_id"),
      (col("id") % 2).as("ivf_cell"), (col("id") % 2).as("cluster"))
    df.select("vec_id", "ivf_cell").write.partitionBy("ivf_cell").parquet(dir)
    df.select("vec_id", "cluster").write.mode("append")
      .partitionBy("cluster").parquet(dir)
    val e = intercept[IllegalStateException] {
      IncrementalIndex.detectCellCol(spark, dir)
    }
    assert(e.getMessage.contains("split across partition columns"))
    assert(e.getMessage.contains("cluster") && e.getMessage.contains("ivf_cell"))
    // an intact single-column store still resolves
    val ok = s"$base/ok"
    df.select("vec_id", "cluster").write.partitionBy("cluster").parquet(ok)
    assert(IncrementalIndex.detectCellCol(spark, ok) === Some("cluster"))
  }
}
