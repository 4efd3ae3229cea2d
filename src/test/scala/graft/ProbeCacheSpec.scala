package graft

import graft.operators.Similarity
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[Similarity.CentroidCache]] — the driver-cached coarse probe the
  * serving facade uses instead of launching a [[Similarity.probeCells]]
  * Spark job per request. The whole point is EXACT parity: same dot fold,
  * same round-6 HALF_UP, desc with ties to the lower cluster id,
  * null-vector centroids last. Pinned here on adversarial data:
  * duplicate centroid vectors (forced rounded-score ties), sub-grain
  * score differences (rounding collapses them into ties), a null-vector
  * centroid reachable at deep nprobe, and a query shorter than the
  * centroids (min-length dot). */
class ProbeCacheSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def centDf(rows: Seq[(Int, Seq[Float])], withNull: Boolean = false) = {
    import spark.implicits._
    val base = rows.toDF("cluster", "cv")
      .select(col("cluster"), col("cv").cast("array<float>"))
    if (!withNull) base
    else base.unionByName(spark.sql(
      "SELECT 99 AS cluster, CAST(NULL AS ARRAY<FLOAT>) AS cv"))
  }

  /** The ties/null fixture: duplicate and sub-grain centroid vectors, a
    * far row and a null-vector row, plus the query they tie under. */
  private def tiesFixture() = {
    val rnd = new scala.util.Random(11)
    val d = 24
    val v0 = Seq.fill(d)((rnd.nextDouble() * 2 - 1).toFloat)
    val cents = Seq(
      5 -> v0,                                   // duplicate of 12: exact tie
      12 -> v0,
      3 -> v0.map(x => x + 1e-9f),               // sub-grain: ties after rounding
      7 -> Seq.fill(d)((rnd.nextDouble() * 2 - 1).toFloat),
      1 -> Seq.fill(d)((rnd.nextDouble() * 2 - 1).toFloat),
      20 -> v0.map(-_))                          // far row
    (centDf(cents, withNull = true), v0)
  }

  private def qvFrame(q: Seq[Float]) = {
    import spark.implicits._
    Seq(Tuple1(q)).toDF("qv")
  }

  /** The flat probe of a single-query frame, through the serving dispatch. */
  private def probeOne(cents: org.apache.spark.sql.DataFrame,
      qvDf: org.apache.spark.sql.DataFrame, nprobe: Int) =
    Similarity.probe(cents, None, Similarity.singleQuery(qvDf), None, nprobe).flatMap(_._2)

  test("cache.probe == probeCells on ties, sub-grain deltas, and null rows") {
    val (df, v0) = tiesFixture()
    val cache = new Similarity.CentroidCache(df)
    val qv = v0.toArray
    val qvDf = spark.range(1).select(typedLit(v0).cast("array<float>").as("qv"))
    for (nprobe <- Seq(1, 2, 3, 5, 7)) { // 7 reaches the null-cv row
      val expect = Similarity.probeCells(df, qvDf, nprobe)
      assert(cache.probe(qv, nprobe) === expect, s"nprobe=$nprobe")
    }
  }

  test("query shorter than the centroids: min-length dot parity") {
    val cents = Seq(
      0 -> Seq(1.0f, 1.0f, 100.0f), // the tail must NOT score
      1 -> Seq(2.0f, 0.5f, -50.0f))
    val df = centDf(cents)
    val cache = new Similarity.CentroidCache(df)
    val q = Seq(1.0f, 1.0f)
    val qvDf = spark.range(1).select(typedLit(q).cast("array<float>").as("qv"))
    assert(cache.probe(q.toArray, 2) === Similarity.probeCells(df, qvDf, 2))
  }

  test("random fuzz: 50 queries x 64 centroids agree at every nprobe depth") {
    val rnd = new scala.util.Random(42)
    val cents = (0 until 64).map(i =>
      i -> Seq.fill(16)((rnd.nextDouble() * 2 - 1).toFloat))
    val df = centDf(cents).cache()
    df.count()
    val cache = new Similarity.CentroidCache(df)
    for (t <- 0 until 50) {
      val q = Seq.fill(16)((rnd.nextDouble() * 2 - 1).toFloat)
      val qvDf = spark.range(1).select(typedLit(q).cast("array<float>").as("qv"))
      val nprobe = 1 + rnd.nextInt(8)
      assert(cache.probe(q.toArray, nprobe) ===
        Similarity.probeCells(df, qvDf, nprobe), s"trial $t")
    }
    df.unpersist()
  }

  test("a null query vector and a zero-row query frame probe as probeCells does") {
    val (df, _) = tiesFixture()
    val nullQ = qvFrame(null)
    for (nprobe <- Seq(1, 2, 3, 5, 7))
      assert(probeOne(df, nullQ, nprobe) === Similarity.probeCells(df, nullQ, nprobe),
        s"null query, nprobe=$nprobe")
    val none = nullQ.limit(0)
    assert(probeOne(df, none, 3).isEmpty)
    assert(Similarity.probeCells(df, none, 3).isEmpty)
  }

  test("batch probe, per query == probeCells on the ties/null fixture") {
    import spark.implicits._
    val (df, v0) = tiesFixture()
    val qs = Seq(0L -> v0, 1L -> v0.map(-_), 2L -> null, 3L -> v0.take(5), 4L -> v0.reverse)
    val queries = qs.toDF("query_id", "qv")
    for (nprobe <- Seq(1, 3, 7)) {
      val batch = Similarity.probe(df, None, Similarity.batchQueries(queries), None, nprobe).toMap
      assert(batch.keySet === qs.map(_._1).toSet)
      for ((q, v) <- qs)
        assert(batch(q) === Similarity.probeCells(df, qvFrame(v), nprobe),
          s"query $q, nprobe=$nprobe")
    }
  }

  test("single-query serving: a zero-row frame serves empty, a two-row frame is a named error") {
    val (df, v0) = tiesFixture()
    import spark.implicits._
    val cells = Seq((1L, 5, v0), (2L, 12, v0.map(-_))).toDF("vec_id", "cluster", "embedding")
    assert(Similarity.ivfSearchPruned(cells, df, qvFrame(v0).limit(0), nprobe = 2, k = 5)
      .collect().isEmpty)
    val two = qvFrame(v0).unionByName(qvFrame(v0.map(-_)))
    val e = intercept[IllegalArgumentException](
      Similarity.ivfSearchPruned(cells, df, two, nprobe = 2, k = 5))
    assert(e.getMessage.contains("single-query frame"))
  }

  /** Spark jobs started while `body` runs on this thread. The listener
    * bus delivers job starts in order, so once the marker job's start is
    * seen every earlier one has been counted. */
  private def jobsRunBy(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = "probe-cache-spec"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val marker = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).filter(_.getProperty("spark.jobGroup.id") == group)
          .foreach { p =>
            if (p.getProperty("spark.job.description") == "marker") marker.countDown()
            else jobs.incrementAndGet()
          }
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "body")
    try {
      body
      sc.setJobDescription("marker")
      spark.range(1).count()
      assert(marker.await(60, java.util.concurrent.TimeUnit.SECONDS))
      jobs.get
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("building a single-query ivfSearchPruned plan over a warmed cache runs no job") {
    val idx = SparkEntry.DenseArtifacts.ivf(spark, TestSpark.sfDir)
    val qv = Tables(spark, TestSpark.sfDir, "embeddings").filter(col("vec_id") === 0)
      .select(col("embedding")).head.getSeq[Float](0)
    def plan() = Similarity.ivfSearchPruned(idx.cells, idx.centroids, qvFrame(qv),
      nprobe = 2, k = 10)
    assert(plan().collect().nonEmpty) // warms the centroid cache
    assert(jobsRunBy(plan()) === 0)
  }
}
