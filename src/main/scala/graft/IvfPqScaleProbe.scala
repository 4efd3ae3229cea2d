package graft

import graft.operators.Similarity
import org.apache.spark.sql.functions._

/** End-to-end IVF-PQ at the reference's production regime (round 12):
  * 1M rows x d=768 — the dimensionality of `create_bin.ipynb`'s flat
  * CLIP indexes; IVF-PQ is the scale-up this framework adds at that d,
  * the index a 100 TB deployment would actually run. Geometry from
  * [[Similarity.IvfParams.auto]]: nlist = 4*sqrt(N) = 4000, PQ 96x8
  * with 256 codes/subspace. The
  * corpus is [[FlagshipCorpus]]: the sf embeddings replicated into
  * genuinely new directions (permutation x wide jitter — clone-structure
  * replicas measure the data artifact, not the index) and tiled 12x to
  * d=768.
  *
  * Reports: the one-call [[Similarity.buildDenseIndex]] wall time (fit +
  * cell store + Lloyd-refined codebooks + codes + int8 + radii — the
  * build routes through the round-12 bulk kernels at this geometry),
  * then serving: batch ADC recall@20 vs exact at doubling nprobe (the
  * K=256 three-key lookup path), and the two-stage exact-refine recall +
  * latency at the persisted default nprobe.
  *
  * Run: `java -cp classes:spark-jars graft.IvfPqScaleProbe
  * [sfDir] [targetRows]`. */
object IvfPqScaleProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val targetRows = args.lift(1).map(_.toLong).getOrElse(1000000L)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Sessions.local(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    // GRAFT_PROBE_ROOT pins the artifact root so the serving-only
    // [[ServeMixFlagshipBench]] can reuse the run-once build instead of
    // re-training
    val outDir = sys.env.getOrElse("GRAFT_PROBE_ROOT",
      java.nio.file.Files.createTempDirectory("graft_ivfpq_scale").toString)
    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = f; (a, (System.nanoTime() - t0) / 1e9)
    }

    // permutation x wide jitter (new directions), then tile 12x to d=768
    // — build-once via the shared corpus helper (r17: the big-nlist
    // probes provision the same corpus without this probe's index build)
    val emb = FlagshipCorpus.ensure(spark, sfDir, outDir, targetRows)
    val n = emb.count()
    val p = Similarity.IvfParams.auto(n, 768)
    println(s"IvfPqScaleProbe: $n rows x d=768, auto geometry: " +
      s"nlist=${p.nlist}, PQ ${p.numSub}x${p.subDim} " +
      s"x${p.numCentroids} codes, lloyd=${p.lloydIters}, pq=${p.pqIters}, " +
      s"defaultNprobe=${p.defaultNprobe}")

    // round-14 production posture: NO hand-picked training sample — the
    // build defaults to IvfParams.autoTrainSample (max(39*nlist,
    // 256*numCentroids, 400k) — the r13 sensitivity run's measured ADC
    // plateau; at this geometry that is the 400k floor). arg 3 still
    // overrides for sensitivity sweeps, and a RECALL-CALIBRATED persisted
    // serving default (target 0.85@20) replaces the corpus-blind
    // nlist/16=250.
    val trainRows = args.lift(2).map(_.toLong)
    val (idx, tBuild) = time {
      Similarity.buildDenseIndex(emb, s"$outDir/index", params = Some(p),
        calibrateRecall = Some(0.85), trainSampleRows = trainRows)
    }
    println(f"buildDenseIndex: ${tBuild}%.0f s (one call: fit + cells + " +
      f"codebooks + codes + int8 + radii + params; trained on ~" +
      f"${trainRows.getOrElse(p.autoTrainSample)} sampled rows, " +
      f"calibrated defaultNprobe=${idx.defaultNprobe.get})")

    val k = 20
    val queries = emb.filter(col("vec_id") < k)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      .persist()
    queries.count()
    val (exactRows, tExact) = time {
      Similarity.knnBatch(emb, queries, k).collect()
    }
    val exact = exactRows.map(r => r.getLong(0) -> r.getLong(1))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    println(f"exact 20-query batch baseline: ${tExact}%.1f s")

    def batchRecall(rows: Array[org.apache.spark.sql.Row]): Double = {
      val got = rows.map(r => r.getLong(0) -> r.getLong(1))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      exact.map { case (q, ids) =>
        ids.intersect(got.getOrElse(q, Set.empty)).size.toDouble / ids.size
      }.sum / exact.size
    }
    // ivf recall = exact scoring within the probed cells (pure coverage
    // loss); adc recall = the codes-only ranking on the same cells (adds
    // the PQ quantization loss). refine recall sits between: exact
    // re-score of the ADC's kCoarse shortlist.
    println(f"${"nprobe"}%8s ${"ivf recall"}%11s ${"adc recall"}%11s " +
      f"${"ivf wall"}%9s ${"adc wall"}%9s")
    val nprobes =
      (Iterator.iterate(1)(_ * 4).takeWhile(_ < p.defaultNprobe).toSeq
        ++ idx.defaultNprobe.toSeq :+ p.defaultNprobe).distinct.sorted
    nprobes.foreach { np =>
      val (ivfRows, tIvf) = time {
        Similarity.ivfSearchBatchPruned(
          idx.cells, idx.centroids, queries, np, k).collect()
      }
      val (adcRows, tAdc) = time {
        Similarity.ivfPqSearchBatchPruned(
          idx.codes, idx.codebooks, idx.centroids, queries, np, k,
          p.numSub, p.subDim).collect()
      }
      println(f"$np%8d ${batchRecall(ivfRows)}%11.3f " +
        f"${batchRecall(adcRows)}%11.3f $tIvf%9.1f $tAdc%9.1f")
    }

    // two-stage refine at the persisted default: ADC shortlists kCoarse,
    // the exact stage re-scores only those rows from the probed cells
    val np = idx.defaultNprobe.getOrElse(p.defaultNprobe)
    val qRows = queries.collect()
    var hit = 0.0
    val (_, tRefine) = time {
      qRows.foreach { qr =>
        val q1 = spark.createDataFrame(
          java.util.Arrays.asList(org.apache.spark.sql.Row(qr.getSeq[Float](1))),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("qv",
              org.apache.spark.sql.types.ArrayType(
                org.apache.spark.sql.types.FloatType, containsNull = true)))))
        val got = Similarity.ivfPqRefineSearch(
          idx.cells, idx.codes, idx.codebooks, idx.centroids, q1,
          np, kCoarse = 100, k = k, numSub = p.numSub, subDim = p.subDim)
          .collect().map(_.getLong(0)).toSet
        val truth = exact(qr.getLong(0))
        hit += truth.intersect(got).size.toDouble / truth.size
      }
    }
    println(f"refine two-stage (nprobe=$np, kCoarse=100): " +
      f"recall@20 ${hit / qRows.length}%.3f, " +
      f"${tRefine / qRows.length}%.2f s/query single-query serial")
    spark.stop()
  }
}
