package graft

import graft.operators.Similarity
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Recall/efficiency probes for the persisted dense index — the numbers a
  * user needs to PICK nprobe (VERDICT r6 #3: FusedPathParitySpec proves
  * monotonicity and full-probe exactness, but nobody could choose nprobe
  * for a target recall) and to see what cell SPLITTING buys on a skewed
  * corpus (VERDICT r6 #7). `main` regenerates the committed `RECALL.md`
  * from the testdata-sized artifacts; `RecallProbeSpec` pins the
  * invariants (recall monotone in nprobe, == 1.0 at full probe).
  */
object RecallProbe {

  /** (nprobe, mean recall@k over a query batch, mean rows scanned PER
    * QUERY) for every nprobe from 1 to the centroid count, measured on the
    * PERSISTED index artifacts (the serving path, not a re-train). "Rows
    * scanned" is each query's probed-cell volume, averaged — the
    * single-query serving cost a user trades against recall (a BATCH scan
    * reads the probed union once, so its cost is at most this times the
    * batch size and usually far less). */
  def curve(
      spark: SparkSession, sfDir: String,
      k: Int = 20, nQueries: Int = 20): Seq[(Int, Double, Long)] = {
    val idx = SparkEntry.DenseArtifacts.ivf(spark, sfDir)
    val emb = Tables(spark, sfDir, "embeddings")
    val queries = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val exact = Similarity.knnBatch(emb, queries, k)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val cellSizes = idx.cells.groupBy(col("cluster")).count()
      .collect().map(r => r.getAs[Number]("cluster").intValue -> r.getLong(1)).toMap
    val probeQueries = Similarity.batchQueries(queries)
    // full probe = every CENTROID probed (an empty cell's centroid still
    // ranks; the loop bound must cover all of them, not just non-empty cells)
    (1 to idx.centroids.count().toInt).map { nprobe =>
      val ann = Similarity
        .ivfSearchBatchPruned(idx.cells, idx.centroids, queries, nprobe, k)
        .collect().map(r => r.getLong(0) -> r.getLong(1))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val recall = exact.map { case (q, ids) =>
        ids.intersect(ann.getOrElse(q, Set.empty)).size.toDouble / ids.size
      }.sum / exact.size
      val perQuery = Similarity.probe(idx.centroids, None, probeQueries, None, nprobe)
        .map(_._2.map(cellSizes.getOrElse(_, 0L)).sum)
      val rows = perQuery.sum / perQuery.size
      (nprobe, recall, rows)
    }
  }

  /** Hot-cell economics of [[Similarity.splitOversizedCells]] on the
    * deliberately skewed layout ([[SparkEntry.SkewArtifacts]]: 80% of rows
    * in one cell, split into 4 sub-cells): per layout, (cells, max cell
    * rows, mean rows scanned at nprobe=1 over a hot-region query batch).
    * Probing the UNSPLIT layout routes every hot query to the 80% cell;
    * the split layout opens one sub-cell instead. */
  def skewTable(
      spark: SparkSession, sfDir: String,
      nQueries: Int = 20): Seq[(String, Long, Long, Double)] = {
    val emb = Tables(spark, sfDir, "embeddings")
    // hot-region queries: vectors the skew rule assigns to cell 0
    val hotQ = emb.filter(col("vec_id") % 10 < 8 && col("vec_id") < nQueries * 2)
      .limit(nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val skewed = emb.withColumn("cluster",
      when(col("vec_id") % 10 < 8, lit(0))
        .otherwise((col("vec_id") % 10).cast("int")))
    val unsplitCents = Similarity.centroids(skewed, "cluster", "embedding")
      .select(col("cluster").cast("int").as("cluster"), col("cv"))
    val splitIdx = SparkEntry.SkewArtifacts.split(spark, sfDir)
    def measure(name: String, cells: org.apache.spark.sql.DataFrame,
        cents: org.apache.spark.sql.DataFrame) = {
      val sizes = cells.groupBy(col("cluster")).count()
        .collect().map(r => r.getAs[Number]("cluster").intValue -> r.getLong(1)).toMap
      val probed = Similarity.probe(cents, None, Similarity.batchQueries(hotQ), None, nprobe = 1)
        .flatMap(_._2)
      val meanRows = probed.map(sizes.getOrElse(_, 0L).toDouble).sum / probed.size
      (name, sizes.size.toLong, sizes.values.max, meanRows)
    }
    Seq(
      measure("skewed-unsplit", skewed, unsplitCents),
      measure("skewed-split", splitIdx.cells, splitIdx.centroids))
  }

  /** Recall@k of the REALISTIC-geometry OPQ build (VERDICT r11 #4):
    * [[SparkEntry.OpqArtifacts]]'s 16 principal components dealt across
    * 4x4 sub-quantizers — the geometry a user would actually serve, where
    * the oracle-checked m2 twin deliberately measures the degenerate
    * 2-component build (recall 0.0 by information destruction). Serves
    * through the SAME [[Similarity.pqAdcScoreRotated]] path as
    * `sim_opq_adc`, measured against exact top-k over a query batch. */
  def opqRecall(
      spark: SparkSession, sfDir: String,
      k: Int = 10, nQueries: Int = 20): Double = {
    val opq = SparkEntry.OpqArtifacts.build(spark, sfDir)
    val emb = Tables(spark, sfDir, "embeddings")
    val queries = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val exact = Similarity.knnBatch(emb, queries, k)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val ann = Similarity.pqAdcScoreRotated(opq.codes, opq.codebooks,
        opq.rotation, queries, k,
        SparkEntry.OpqArtifacts.numSub, SparkEntry.OpqArtifacts.subDim)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    exact.map { case (q, ids) =>
      ids.intersect(ann.getOrElse(q, Set.empty)).size.toDouble / ids.size
    }.sum / exact.size
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val out = if (args.length > 1) args(1) else "RECALL.md"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Sessions.local(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    val total = Tables(spark, sfDir, "embeddings").count()
    val cv = curve(spark, sfDir)
    val sk = skewTable(spark, sfDir)
    val defaultNp = SparkEntry.DenseArtifacts.ivf(spark, sfDir).defaultNprobe
    val sb = new StringBuilder
    sb ++= "# RECALL — nprobe selection + skew-split economics\n\n"
    sb ++= s"Generated by `graft.RecallProbe` on `$sfDir` " +
      s"($total corpus rows; persisted IVF artifacts, k=20, 20-query batch).\n\n"
    sb ++= "## Recall@20 vs nprobe (persisted IVF index)\n\n"
    sb ++= "Pick the smallest nprobe whose recall meets the target; " +
      "\"rows scanned\" is the mean per-query probed-cell volume the " +
      "pruned scan reads (the serving cost driver).\n\n"
    sb ++= "| nprobe | recall@20 | rows scanned | corpus fraction |\n"
    sb ++= "|---:|---:|---:|---:|\n"
    cv.foreach { case (np, r, rows) =>
      val mark = if (defaultNp.contains(np)) " **(default)**" else ""
      sb ++= f"| $np$mark | $r%.3f | $rows | ${rows.toDouble / total}%.2f |\n"
    }
    sb ++= "\nInvariants pinned by `RecallProbeSpec`: recall is monotone " +
      "non-decreasing in nprobe and exactly 1.0 at full probe; the " +
      "**(default)** row is the build-time recall-CALIBRATED serving " +
      "default persisted in the index `params` artifact " +
      "(`Similarity.calibrateNprobe`, target recall@20 >= 0.8), and the " +
      "spec fails if its measured recall drops below the 0.8 floor.\n\n"
    sb ++= "## Cell-skew split (80%-hot synthetic, nprobe=1, hot-region queries)\n\n"
    sb ++= "| layout | cells | max cell rows | mean rows scanned |\n"
    sb ++= "|---|---:|---:|---:|\n"
    sk.foreach { case (n, c, mx, mean) =>
      sb ++= f"| $n | $c | $mx | $mean%.1f |\n"
    }
    sb ++= "\nSplitting the hot cell into 4 sub-cells bounds what a " +
      "hot-region probe opens at ~1/4 of the hot region; serving code is " +
      "unchanged (the split layout is flat: same probeCells -> " +
      "PartitionFilters plan).\n"
    val opqR = opqRecall(spark, sfDir)
    sb ++= f"\n## Realistic-geometry OPQ (16 components, 4x4 codes)\n\n" +
      f"`pqAdcScoreRotated` over the `OpqArtifacts` build (the geometry " +
      f"`sim_opq_adc` serves): mean recall@10 over a 20-query batch = " +
      f"**$opqR%.3f**.\n"
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      sb.toString.getBytes("UTF-8"))
    println(sb.toString)
    spark.stop()
  }
}
