package graft

import org.apache.spark.sql.functions._

/** Scaling probe: replicate the sf tables KX-fold (id-offset union — same
  * distributions, KX rows), run key operators at 1x and KX, print the
  * runtime ratios. Corpus-linear operators must scale ~linearly (or better,
  * while fixed per-query overhead still dominates); anything super-linear
  * is a design bug. This is the measured form of the README scale audit. */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factor = if (args.length > 1) args(1).toInt else 10
    val outDir = java.nio.file.Files.createTempDirectory("graft_scale").toString
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Sessions.local(cpus)
    spark.sparkContext.setLogLevel("ERROR")

    // id-offset replication preserving value distributions and id
    // uniqueness. Text is token-salted per replica (every word prefixed
    // with the replica index) so replicas are DISTINCT documents — naive
    // cloning would make every row an exact dup of its clones and near-dup
    // output (hence dedup runtime, which is output-bound) would grow
    // quadratically inside clone groups, measuring the data artifact
    // instead of the operator. EMBEDDINGS get the same treatment since
    // round 12 (they were plain clones before, and q39's 10x ratio was
    // partly the clone-group pair explosion): each replica is a
    // coordinate permutation (odd stride) x 0.5-1.5x hash jitter — a
    // genuinely new direction, the [[FlagshipCorpus]] recipe.
    def replicate(table: String, idCols: Seq[String], offset: Long,
        saltText: Boolean = false, saltVec: Boolean = false): Unit = {
      val base = spark.read.parquet(s"$sfDir/$table.parquet")
      val out = (0 until factor).map { k =>
        val idShifted = idCols.foldLeft(base) { (df, c) =>
          df.withColumn(c, col(c) + lit(k * offset))
        }
        if (saltText && k > 0)
          idShifted.withColumn("text",
            regexp_replace(col("text"), "(\\w+)", s"r${k}_$$1"))
        else if (saltVec && k > 0) {
          val s = 2 * (k % 32) + 1
          idShifted.withColumn("embedding",
            expr(s"transform(sequence(0, 63), j -> cast(" +
              s"element_at(embedding, cast((j * $s) % 64 + 1 as int)) * " +
              s"(0.5d + pmod(${k}L * 2654435761L + j * 40503L, 1024) / 1024.0d)" +
              s" as float))"))
        } else idShifted
      }.reduce(_ unionByName _)
      out.write.mode("overwrite").parquet(s"$outDir/$table.parquet")
    }
    // arg 4 restricts replication to the tables the probe set actually
    // reads — at factor=100 the full five-table replication writes ~2 GB
    // of parquet the documents-only corpus probes never touch
    val tables = if (args.length > 3) args(3).split(",").toSet
      else Set("embeddings", "documents", "lineitem", "orders", "events")
    if (tables("embeddings")) replicate("embeddings", Seq("vec_id"), 1000000L, saltVec = true)
    if (tables("documents")) replicate("documents", Seq("doc_id"), 1000000L, saltText = true)
    if (tables("lineitem")) replicate("lineitem", Seq("l_orderkey"), 100000000L)
    if (tables("orders")) replicate("orders", Seq("o_orderkey"), 100000000L)
    if (tables("events")) replicate("events", Seq("event_id"), 1000000000L)

    val defaultProbes = Seq("j1_knn_dense", "q1_agg_pricing_summary", "c4_tfidf_search",
      "a3_bm25_search", "dedup_minhash_lsh", "dedup_exact", "text_langid",
      "text_lm_quality", "sim_int8_topk", "w1_window_topk_per_user",
      "j1b_knn_batch", "sim_ivf_ann", "sim_ivf_batch", "sim_pq_adc",
      "sim_ivfpq_ann", "sim_ivfpq_batch", "sim_ivfpq_refine",
      "f1b_knn_ann_filtered", "f1c_ivfpq_ann_filtered", "sim_ivf_skew_split",
      "sim_cluster_assign", "f1d_knn_ann_adaptive", "f1e_knn_batch_adaptive",
      "stream_ann_topk", "q35_hybrid_rrf",
      "sim_ivf_range", "sim_ivf_range_batch", "sim_ivf_int8_refine",
      "sim_range_post_delete", "dedup_semantic_keep_best",
      "eval_ann_quality", "eval_recall_curve", "sim_pca_power",
      "sim_pca_project", "curation_stratified_sample", "profile_zipf",
      // round-10 additions: wide-fingerprint media near-dup, the SQ8 /
      // matryoshka eval queries (q×k-bounded like eval_ann_quality),
      // OPQ ADC serving, and the driver-localized BPE trainer
      "mm_phash_dedup", "eval_sq8_recall", "eval_matryoshka_recall",
      "sim_opq_adc", "text_bpe_fit", "text_bpe_segment")
    // an explicit comma-separated probe list (arg 3) scopes a re-run to the
    // queries under study without re-measuring the whole table
    val probes = if (args.length > 2) args(2).split(",").toSeq else defaultProbes
    def time(name: String, dir: String): Double = {
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, dir).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    // warm both datasets once, then measure min-of-two
    probes.foreach { n => time(n, sfDir); time(n, outDir) }
    val rows = probes.map { n =>
      val t1 = time(n, sfDir).min(time(n, sfDir))
      val tk = time(n, outDir).min(time(n, outDir))
      (n, t1, tk, tk / t1)
    }
    println(f"${"query"}%-28s ${"t_1x(s)"}%10s ${"t_" + factor + "x(s)"}%10s ratio")
    rows.foreach { case (n, t1, tk, r) =>
      println(f"$n%-28s $t1%10.2f $tk%10.2f $r%5.1f")
    }
    spark.stop()
  }
}
