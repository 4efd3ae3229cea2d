package graft

import graft.operators.Similarity
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Edge-case unit coverage for the k-means training pair
  * ([[Similarity.kmeansFit]] / [[Similarity.assignCells]]) — the oracle
  * query exercises only the happy path over the testdata (VERDICT r4 #7):
  * empty-cluster drop-out, k > N, similarity ties, null vectors. */
class KmeansSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def embDf(rows: Seq[(Long, Option[Array[Float]])]) = {
    val s = spark
    import s.implicits._
    rows.toDF("vec_id", "embedding")
  }

  private def centDf(rows: Seq[(Int, Array[Float])]) = {
    val s = spark
    import s.implicits._
    rows.toDF("cluster", "cv")
  }

  test("assignCells breaks similarity ties to the LOWER cluster id") {
    val emb = embDf(Seq(0L -> Some(Array(1f, 0f))))
    // two IDENTICAL centroids: sims tie exactly, negc must decide
    val cents = centDf(Seq(3 -> Array(1f, 0f), 1 -> Array(1f, 0f)))
    val got = Similarity.assignCells(emb, cents).select("cluster").collect()
    assert(got.map(_.getInt(0)).toSeq === Seq(1))
  }

  test("assignCells gives a NULL cell to null-vector rows, not cluster 0") {
    val emb = embDf(Seq(
      0L -> Some(Array(1f, 0f)),
      1L -> None))
    val cents = centDf(Seq(0 -> Array(1f, 0f), 1 -> Array(0f, 1f)))
    val got = Similarity.assignCells(emb, cents)
      .orderBy("vec_id").select("cluster").collect()
    assert(got(0).getInt(0) === 0)
    assert(got(1).isNullAt(0), "null vector must yield a null cell")
  }

  test("kmeansFit with k > N returns at most N centroids") {
    val emb = embDf(Seq(
      0L -> Some(Array(1f, 0f)),
      1L -> Some(Array(0f, 1f)),
      2L -> Some(Array(-1f, 0f))))
    val fit = Similarity.kmeansFit(emb, k = 5, iters = 1)
    val rows = fit.collect()
    fit.unpersist()
    assert(rows.length <= 3 && rows.nonEmpty)
    assert(rows.map(_.getInt(0)).distinct.length === rows.length)
  }

  test("kmeansFit drops empty clusters from the refit") {
    // four identical unit vectors: both init centroids coincide, every row
    // ties to the lower cluster id, the other cluster gets no members and
    // must vanish from the refit output like any row-less GROUP BY group
    val emb = embDf((0L to 3L).map(i => i -> Some(Array(0.6f, 0.8f))))
    val fit = Similarity.kmeansFit(emb, k = 2, iters = 1)
    val rows = fit.collect()
    fit.unpersist()
    assert(rows.length === 1, s"expected one surviving cluster, got ${rows.length}")
    val cv = rows.head.getSeq[Float](1)
    assert(math.abs(cv.head - 0.6f) < 1e-6 && math.abs(cv(1) - 0.8f) < 1e-6)
  }

  test("assignCellsChunked matches packed assignCells at every chunk size") {
    val rnd = new scala.util.Random(7)
    val emb = embDf((0L until 20L).map { i =>
      val v = Array.fill(4)(rnd.nextFloat() - 0.5f)
      val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      i -> Some(v.map(_ / n))
    } :+ (20L -> Option.empty[Array[Float]]))
    val cents = centDf((0 until 7).map { c =>
      val v = Array.fill(4)(rnd.nextFloat() - 0.5f)
      val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      c -> v.map(_ / n)
    })
    val packed = Similarity.assignCells(emb, cents)
      .orderBy("vec_id").collect().map(r => (r.getLong(0), r.get(2)))
    // 1 = one centroid per chunk, 3 = ragged last chunk, 7 = exact fit,
    // 100 = single chunk (degenerates to the packed shape)
    for (cs <- Seq(1, 3, 7, 100)) {
      val chunked = Similarity.assignCellsChunked(emb, cents, chunkSize = cs)
        .orderBy("vec_id").collect().map(r => (r.getLong(0), r.get(2)))
      assert(chunked === packed, s"chunkSize=$cs diverged from packed form")
    }
  }

  test("assignCellsBulk matches packed assignCells exactly (kernel parity)") {
    // the mapPartitions bulk kernel must be bit-identical to the packed SQL
    // argmax: same sequential double-fold dot, same HALF_UP rounding, ties
    // to the lower id, null vector -> NULL cell
    val rnd = new scala.util.Random(11)
    val emb = embDf((0L until 40L).map { i =>
      val v = Array.fill(4)(rnd.nextFloat() - 0.5f)
      val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      i -> Some(v.map(_ / n))
    } :+ (40L -> Option.empty[Array[Float]]))
    val cents = centDf((0 until 9).map { c =>
      val v = Array.fill(4)(rnd.nextFloat() - 0.5f)
      val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      c -> v.map(_ / n)
    })
    val packed = Similarity.assignCells(emb, cents)
      .orderBy("vec_id").collect().map(r => (r.getLong(0), r.get(2)))
    val bulk = Similarity.assignCellsBulk(emb, cents)
      .orderBy("vec_id").collect().map(r => (r.getLong(0), r.get(2)))
    assert(bulk === packed)
    // tie-break parity: identical centroids, lower id must win
    val tieEmb = embDf(Seq(0L -> Some(Array(1f, 0f))))
    val tieCents = centDf(Seq(5 -> Array(1f, 0f), 2 -> Array(1f, 0f)))
    assert(Similarity.assignCellsBulk(tieEmb, tieCents)
      .select("cluster").collect().map(_.getInt(0)).toSeq === Seq(2))
    // empty centroid relation -> all-NULL cells, like the SQL forms
    assert(Similarity.assignCellsBulk(tieEmb, tieCents.limit(0))
      .select("cluster").collect().forall(_.isNullAt(0)))
  }

  test("assignCellsChunked breaks cross-chunk ties to the LOWER cluster id") {
    val emb = embDf(Seq(0L -> Some(Array(1f, 0f))))
    // identical centroids land in DIFFERENT chunks (chunkSize=1): the
    // greatest-fold across chunk winners must still prefer cluster 2
    val cents = centDf(Seq(5 -> Array(1f, 0f), 2 -> Array(1f, 0f)))
    val got = Similarity.assignCellsChunked(emb, cents, chunkSize = 1)
      .select("cluster").collect()
    assert(got.map(_.getInt(0)).toSeq === Seq(2))
  }

  test("kmeansFit ignores null-vector rows (they score null and drop out)") {
    val emb = embDf(Seq(
      0L -> Some(Array(1f, 0f)),
      1L -> Some(Array(0.8f, 0.6f)),
      2L -> None))
    val fit = Similarity.kmeansFit(emb, k = 2, iters = 2)
    val rows = fit.collect()
    fit.unpersist()
    // the two real vectors produce centroids; the null row contributes to none
    assert(rows.nonEmpty && rows.length <= 2)
    assert(rows.forall(!_.isNullAt(1)))
  }

  test("driver kmeansFit == Spark kmeansFit bit for bit (ties, nulls, empty clusters, k <= 64 and k > 64)") {
    def fits(emb: org.apache.spark.sql.DataFrame, k: Int, iters: Int): Unit = {
      val spark = Similarity.kmeansFitSpark(emb, k, iters, "vec_id", "embedding", "kmeans", 6, 8)
      val driver = Similarity.kmeansFitDriver(emb, k, iters, "vec_id", "embedding", "kmeans", 6, 8)
      assert(driver.isDefined, s"k=$k iters=$iters fell back")
      val what = s"k=$k iters=$iters"
      assert(driver.get.schema === spark.schema, what)
      // Float.toString is the shortest string that names the float exactly
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).sorted.toSeq
      assert(rows(driver.get) === rows(spark), what)
      spark.unpersist()
    }
    val rnd = new scala.util.Random(5)
    def unit(d: Int) = {
      val v = Array.fill(d)(rnd.nextFloat() - 0.5f)
      val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      v.map(_ / n)
    }
    // 300 random rows (with nulls, a short vector and an empty one), plus
    // exact duplicates whose sims tie
    val base = (0L until 300L).map { i =>
      i -> (if (i % 37 == 0) None else if (i == 5) Some(unit(3)) else if (i == 7)
        Some(Array.empty[Float]) else Some(unit(8)))
    }
    val dup = unit(8)
    val mixed = embDf(base ++ (300L until 320L).map(i => i -> Some(dup)))
    for (k <- Seq(1, 5, 64, 65, 100); iters <- Seq(0, 1, 2)) fits(mixed, k, iters)
    // four identical vectors: every row ties to the lower id, the other
    // cluster empties out of the refit
    fits(embDf((0L to 3L).map(i => i -> Some(Array(0.6f, 0.8f)))), 2, 2)
    // k > N, and an empty input
    fits(embDf(Seq(0L -> Some(Array(1f, 0f)), 1L -> Some(Array(0f, 1f)))), 70, 2)
    fits(embDf(Seq.empty), 3, 1)
    // every init centroid without a vector: the packed (k <= 64) form sends
    // each row to the lowest id, the bulk form (k > 64) gives a NULL cell
    val byHash = (0L until 200L).sortBy(i =>
      graft.operators.Dedup.hash60Local(s"kmeans:$i"))
    for (k <- Seq(1, 65)) {
      val nulls = byHash.take(k).map(_ -> Option.empty[Array[Float]])
      val live = byHash.slice(k, k + 10).map(_ -> Some(unit(4)))
      fits(embDf(nulls ++ live), k, 2)
    }
    // a vector the decimal mean would null out keeps the Spark loop
    assert(Similarity.kmeansFitDriver(embDf(Seq(0L -> Some(Array(Float.NaN, 1f)))),
      1, 1, "vec_id", "embedding", "kmeans", 6, 8).isEmpty)
  }
}
