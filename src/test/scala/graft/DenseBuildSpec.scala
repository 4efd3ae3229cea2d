package graft

import scala.jdk.CollectionConverters._

import graft.operators.Similarity
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The dense-index BUILD surface: the k ~ sqrt(N) sizing rule
  * ([[Similarity.IvfParams.auto]]) and the one-call builder
  * ([[Similarity.buildDenseIndex]]) that writes the four persisted
  * serving artifacts (centroids / cell-partitioned corpus / refined
  * codebooks / cell-partitioned codes). */
class DenseBuildSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("IvfParams.auto wires the k ~ sqrt(N) sizing rule") {
    // reference regime: 1M rows of CLIP-dim vectors
    val p = Similarity.IvfParams.auto(1000000L, 768)
    assert(p.nlist === 4000) // ceil(4*sqrt(1e6))
    assert(p.subDim === 8 && p.numSub === 96)
    assert(p.numCentroids === 256) // one byte per code
    assert(p.defaultNprobe === 250) // nlist/16

    // testbed regime
    val small = Similarity.IvfParams.auto(500L, 64)
    assert(small.nlist === 90) // ceil(4*sqrt(500))
    assert(small.subDim === 8 && small.numSub === 8)
    assert(small.numCentroids === 256)
    assert(small.defaultNprobe === 5)

    // clamps: nlist and the codebook never exceed the corpus; a prime d
    // falls back to one d-dim subspace
    val tiny = Similarity.IvfParams.auto(9L, 7)
    assert(tiny.nlist === 9)
    assert(tiny.numSub === 1 && tiny.subDim === 7)
    assert(tiny.numCentroids === 9)
    assert(tiny.defaultNprobe === 1)

    // subDim picks a PROPER divisor nearest 8 — d=10 gives 5 (2 subspaces),
    // not d itself
    val d10 = Similarity.IvfParams.auto(10000L, 10)
    assert(d10.subDim === 5 && d10.numSub === 2)

    // monotone in N: 4x the rows, 2x the cells
    assert(Similarity.IvfParams.auto(4000000L, 64).nlist === 8000)

    intercept[IllegalArgumentException](Similarity.IvfParams.auto(0L, 8))
    intercept[IllegalArgumentException](Similarity.IvfParams.auto(10L, 0))
  }

  private val BuildGroup = "dense-build-spec"

  /** One auto-sized build (geometry = auto(500, 64)) and then a panel
    * index build, under a caller job group and description, with the
    * (description, stage names) of every job they ran in order and the
    * caller's (group, description) as the dense build left them. */
  private lazy val autoBuild = {
    val emb = Tables(spark, TestSpark.sfDir, "embeddings")
    val docs = Tables(spark, TestSpark.sfDir, "documents")
    val out = java.nio.file.Files.createTempDirectory("graft_densebuild").toString
    val sc = spark.sparkContext
    val descs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val marker = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).filter(_.getProperty("spark.jobGroup.id") == BuildGroup)
          .foreach { p =>
            val d = p.getProperty("spark.job.description")
            if (d == "marker") marker.countDown()
            else descs.add(s"$d\t${e.stageInfos.map(_.name).mkString(";")}")
          }
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(BuildGroup, "caller description")
    try {
      val idx = Similarity.buildDenseIndex(emb, out)
      val after = (sc.getLocalProperty("spark.jobGroup.id"),
        sc.getLocalProperty("spark.job.description"))
      graft.operators.Lexical.writeMultiIndex(spark,
        Seq(("tag", docs, "doc_id", "text")), s"$out/panel")
      assert(sc.getLocalProperty("spark.job.description") === "caller description")
      // listener events arrive in job order: once the marker job's start
      // is seen, every build job's has been
      sc.setJobDescription("marker")
      spark.range(1).count()
      assert(marker.await(60, java.util.concurrent.TimeUnit.SECONDS))
      (emb, out, idx, descs.asScala.toSeq.map(_.split("\t", 2) match {
        case Array(d, stages) => (d, stages)
        case Array(d) => (d, "")
      }), after)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("buildDenseIndex: auto-sized build lands all artifacts and serves exactly at full probe") {
    val (emb, out, idx, _, _) = autoBuild

    for (sub <- Seq("centroids", "cells", "codebooks", "codes"))
      assert(new java.io.File(s"$out/$sub").exists(), s"missing artifact $sub")
    assert(new java.io.File(s"$out/cells").listFiles()
      .exists(_.getName.startsWith("cluster=")), "cells not cell-partitioned")
    assert(new java.io.File(s"$out/codes").listFiles()
      .exists(_.getName.startsWith("cluster=")), "codes not cell-partitioned")

    // auto sizing took effect (k >> the testbed's pinned 8; empty cells may
    // drop out of the refit, so <= the rule's 90)
    val nlist = idx.centroids.count().toInt
    assert(nlist > 8 && nlist <= 90, s"unexpected nlist $nlist")

    // the cell store holds the whole corpus exactly once, codes carry
    // numSub rows per corpus row
    assert(idx.cells.count() === 500L)
    assert(idx.cells.select("vec_id").distinct().count() === 500L)
    assert(idx.codes.count() === 500L * 8)

    // full probe over the built index == exact top-k: the build lost and
    // duplicated nothing
    val q = emb.filter(col("vec_id") === 3).select(col("embedding").as("qv"))
    def key(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), math.round(r.getDouble(1) * 1e4))).toSeq
    val got = key(Similarity.ivfSearchPruned(
      idx.cells, idx.centroids, q, nprobe = nlist, k = 12))
    // same ROUNDED-score boundary as the pruned search (ties to lower id)
    val want = key(Similarity.scoreAll(emb, q)
      .select(col("vec_id"), round(col("score"), 4).as("score"))
      .orderBy(col("score").desc, col("vec_id").asc)
      .limit(12))
    assert(got === want)
  }

  test("buildDenseIndex writes one parquet file per non-empty cell in every cell store") {
    val (_, out, idx, _, _) = autoBuild
    val nonEmpty = idx.cells.select("cluster").distinct().count()
    for (store <- Seq("cells", "codes", "int8", "bin")) {
      val cells = new java.io.File(s"$out/$store").listFiles()
        .filter(_.getName.startsWith("cluster="))
      assert(cells.length === nonEmpty, s"$store has ${cells.length} cell dirs")
      cells.foreach { c =>
        val n = c.listFiles().count(_.getName.endsWith(".parquet"))
        assert(n === 1, s"$store/${c.getName} holds $n parquet files")
      }
    }
  }

  test("buildDenseIndex names each leg's jobs and restores the caller's description") {
    val (_, _, _, jobs, after) = autoBuild
    assert(after === ((BuildGroup, "caller description")))
    // every build job is named for its leg: no store read lists its files
    // through a job of its own ("Listing leaf files")
    val legs = jobs.map(_._1).takeWhile(!_.startsWith("writeMultiIndex: "))
    assert(legs.nonEmpty && legs.forall(_.startsWith("buildDenseIndex: ")),
      s"unnamed build jobs: ${legs.filterNot(_.startsWith("buildDenseIndex: ")).distinct}")
    for (leg <- Seq("coarse kmeans fit + centroids write", "full-corpus assign + cells write",
        "PQ codebook train (+ rotation fit)", "full-corpus PQ encode + codes write",
        "int8 encode + write", "binary encode + write"))
      assert(legs.contains(s"buildDenseIndex: $leg"), s"no job named for leg '$leg'")
  }

  test("every job of the dense and the panel build carries a leg name, AQE's jobs included") {
    val (_, _, _, jobs, _) = autoBuild
    val panel = jobs.filter(_._1.startsWith("writeMultiIndex: ")).map(_._1)
    for (leg <- Seq("tokenize + postings write", "docFreq write", "stats write", "vectors write"))
      assert(panel.contains(s"writeMultiIndex: $leg"), s"no job named for leg '$leg'")
    val unnamed = jobs.filterNot { case (d, _) =>
      d.startsWith("buildDenseIndex: ") || d.startsWith("writeMultiIndex: ") }
    assert(unnamed.isEmpty, s"jobs without a leg name: $unnamed")
    // AQE submits the stage jobs of an adaptive plan from its own threads,
    // with the caller's local properties: they are named like the rest
    assert(jobs.exists(_._2.contains("CompletableFuture")),
      s"no AQE-submitted job was seen: ${jobs.map(_._2).distinct}")
  }
}
