package graft

import graft.operators.Similarity
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Cell-skew mitigation (VERDICT r6 #7): IVF cells over real embeddings are
  * Zipf-ish — one hot cell makes nprobe pruning useless for popular
  * queries. [[Similarity.splitOversizedCells]] must break the hot cell into
  * bounded sub-cells WITHOUT losing or duplicating rows, leave cold cells
  * untouched, and keep the flat serving path (probe -> PartitionFilters)
  * working unchanged over the split layout. */
class SkewCellSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private lazy val emb = Tables(spark, TestSpark.sfDir, "embeddings")
  /** 80% of the corpus in cell 0 — the hot-cell shape. */
  private lazy val skewed = emb.withColumn("cluster",
    when(col("vec_id") % 10 < 8, lit(0)).otherwise((col("vec_id") % 10).cast("int")))
  private lazy val cents = Similarity.centroids(skewed, "cluster", "embedding")
    .select(col("cluster").cast("int").as("cluster"), col("cv"))

  test("splitOversizedCells: hot cell splits into bounded sub-cells, nothing lost") {
    val total = emb.count()
    val (cents2, cells2) = Similarity.splitOversizedCells(
      skewed, cents, maxCellRows = total / 4, subK = 4)
    // no rows lost or duplicated, ids preserved exactly
    assert(cells2.count() === total)
    assert(cells2.select("vec_id").distinct().count() ===
      emb.select("vec_id").distinct().count())
    val sizes = cells2.groupBy(col("cluster")).count()
      .collect().map(r => r.getAs[Number]("cluster").intValue -> r.getLong(1)).toMap
    // the parent hot cell is gone, replaced by >1 sub-cells under fresh ids
    assert(!sizes.contains(0), s"hot cell 0 survived the split: $sizes")
    val subCells = sizes.keys.filter(_ > 9)
    assert(subCells.size > 1, s"hot cell not split: $sizes")
    // the hot region's max shard shrank strictly below the unsplit 80%
    val hotRows = (total * 8) / 10
    assert(sizes.values.max < hotRows,
      s"splitting did not reduce the max cell: $sizes")
    // cold cells are untouched (same ids, same sizes)
    val coldBefore = skewed.filter(col("cluster") =!= 0)
      .groupBy(col("cluster")).count()
      .collect().map(r => r.getAs[Number]("cluster").intValue -> r.getLong(1)).toMap
    assert(coldBefore.forall { case (c, n) => sizes.get(c).contains(n) })
    // every centroid id in the new table is a cell in the new layout,
    // and the sub-centroids carry the fresh ids
    val centIds = cents2.select("cluster").collect().map(_.getInt(0)).toSet
    assert(subCells.forall(centIds), s"sub-cells missing centroids")
    assert(!centIds.contains(0))
  }

  test("null-cluster rows (null-vector corpus rows) survive the split") {
    import spark.implicits._
    // one unassignable row with a NULL cell, the documented assignCells
    // output for null-vector rows — under three-valued logic a bare
    // NOT-isin filter would silently drop it from the rewritten layout
    val nullRow = Seq((999999L, 3)).toDF("vec_id", "label")
      .select(col("vec_id"), lit(null).cast("array<float>").as("embedding"),
        col("label"), lit(null).cast("int").as("cluster"))
    val withNull = skewed.select("vec_id", "embedding", "label", "cluster")
      .unionByName(nullRow)
    val total = withNull.count()
    val (_, cells2) = Similarity.splitOversizedCells(
      withNull, cents, maxCellRows = emb.count() / 4, subK = 4)
    assert(cells2.count() === total, "split lost rows")
    assert(cells2.filter(col("cluster").isNull).count() === 1,
      "the null-cluster row vanished from the split layout")
  }

  test("below-threshold layouts come back unchanged") {
    val (c2, cl2) = Similarity.splitOversizedCells(
      skewed, cents, maxCellRows = Long.MaxValue, subK = 4)
    assert(c2 eq cents)
    assert(cl2 eq skewed)
  }

  test("serving the split layout: full probe == exact; partition pruning intact") {
    val idx = SparkEntry.SkewArtifacts.split(spark, TestSpark.sfDir)
    val qv = emb.filter(col("vec_id") === 1).select(col("embedding").as("qv"))
    val ann = Similarity.ivfSearchPruned(idx.cells, idx.centroids, qv,
      nprobe = 1 << 20, k = 20)
    val exact = Similarity.scoreAll(emb, qv)
      .select(col("vec_id"), round(col("score"), 4).as("score"))
      .orderBy(col("score").desc, col("vec_id")).limit(20)
    assert(ann.collect().map(_.toString).toSeq ===
      exact.collect().map(_.toString).toSeq)
    // partial probe over the persisted split layout prunes directories
    val p = Similarity.ivfSearchPruned(idx.cells, idx.centroids, qv,
      nprobe = 1, k = 20).queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters: [isnotnull(cluster"),
      s"split layout lost partition pruning:\n$p")
  }

  test("hot-region probes open sub-cell-sized partitions after the split") {
    val idx = SparkEntry.SkewArtifacts.split(spark, TestSpark.sfDir)
    val total = emb.count()
    val hotRows = (total * 8) / 10
    val sizes = idx.cells.groupBy(col("cluster")).count()
      .collect().map(r => r.getAs[Number]("cluster").intValue -> r.getLong(1)).toMap
    val hotQ = emb.filter(col("vec_id") % 10 < 8 && col("vec_id") < 40).limit(20)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val probed = Similarity.probe(idx.centroids, None, Similarity.batchQueries(hotQ),
      None, nprobe = 1).flatMap(_._2)
    assert(probed.nonEmpty)
    val worst = probed.map(sizes.getOrElse(_, 0L)).max
    assert(worst < hotRows,
      s"a hot-region probe still opens the whole hot region: $worst of $hotRows")
  }
}
