package graft

import graft.api.{Corpus, Filters, SearchEngine}
import graft.operators.Similarity
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Endpoint-mix serving bench at FLAGSHIP geometry (VERDICT r14 #4):
  * perfbench's `serve_small` workload measures the facade's composition
  * on a ~2k-row corpus (where request latency is dominated by fixed
  * planning cost); this one drives the same kind of request mix against the
  * persisted 1M x d=768 store from [[IvfPqScaleProbe]] — serving-only,
  * no build — so the req/s and tail-latency numbers are at the geometry
  * where the CentroidCache and cell-store layout wins actually bind.
  *
  * Mix per 10 requests (dense-only — the flagship store is the DENSE
  * index; the lexical/panel channel's geometry is unchanged from the sf
  * run): 4x /textsearch (plain, partition-filtered, ignore-listed),
  * 3x /imgsearch (ANN by stored id), 2x /feedback (Rocchio rerank),
  * 1x temporal re-query. Serial pass first (warms scans + codegen),
  * then the concurrent replays at 4 and 8 client threads in FAIR pools.
  *
  * Prints ONE JSON line `{"metric":"serve_mix_flagship",...}` —
  * committed into `BENCH_SERVE.json` next to the sf-geometry table.
  *
  * Run: `GRAFT_PROBE_ROOT=/path java -cp classes:spark-jars
  * graft.ServeMixFlagshipBench` where the root holds `emb/` + `index/`
  * from an IvfPqScaleProbe run (this round's build includes the binary
  * store and calibrated params). */
object ServeMixFlagshipBench {
  def main(args: Array[String]): Unit = {
    val root = sys.env.getOrElse("GRAFT_PROBE_ROOT",
      args.headOption.getOrElse(
        sys.error("usage: GRAFT_PROBE_ROOT=<dir> ServeMixFlagshipBench")))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Sessions.local(cpus, fair = true)
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = f; (a, (System.nanoTime() - t0) / 1e9)
    }

    // ---- corpus views over the persisted 1M x d768 probe corpus: the
    // FIXTURES.md §A shape (20 keyframes/video, 2 per shot), and the
    // SearchEngine column contract (id / clip / clipv2)
    val emb = spark.read.parquet(s"$root/emb")
    val n = emb.count()
    // corpus views are MATERIALIZED once beside the store (r16: the r15
    // "flagship 4-thread tail" was temporal requests re-running the
    // 1M-row shots aggregation per request — a bench-fixture cost; in
    // production Corpus.shots is a table, so persist it like one)
    // done markers carry the emb row count (ADVICE r16): a regenerated
    // store under the same root at a DIFFERENT size must invalidate the
    // derived kf/shots/panel artifacts — path-only memoization served the
    // mix against a mismatched corpus. Same cross-geometry discipline as
    // the bench canary gate.
    def markerStale(fs: org.apache.hadoop.fs.FileSystem,
                    done: org.apache.hadoop.fs.Path): Boolean =
      !fs.exists(done) || {
        val in = fs.open(done)
        val txt = try scala.io.Source.fromInputStream(in).mkString.trim
          finally in.close()
        // legacy count-less markers are stale by definition
        !txt.toLongOption.contains(n)
      }
    def writeMarker(fs: org.apache.hadoop.fs.FileSystem,
                    done: org.apache.hadoop.fs.Path): Unit = {
      val out = fs.create(done, true)
      try out.write(n.toString.getBytes("UTF-8")) finally out.close()
    }
    val corpusDir = s"$root/corpus"
    locally {
      val done = new org.apache.hadoop.fs.Path(s"$corpusDir/_graft_built")
      val fs = done.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (markerStale(fs, done)) {
        val kf0 = emb.select(col("vec_id").as("id"), lit("kf").as("collection"),
          concat(lit("V"), (col("vec_id") / 20).cast("long")).as("video_id"),
          ((col("vec_id") % 20) / 2).cast("int").as("shot_id"),
          (col("vec_id") % 4).cast("int").as("partition_tag"))
        kf0.write.mode("overwrite").parquet(s"$corpusDir/kf")
        kf0.groupBy(col("video_id"), col("shot_id"))
          .agg(sort_array(collect_list(col("id"))).as("keyframe_ids"))
          .write.mode("overwrite").parquet(s"$corpusDir/shots")
        writeMarker(fs, done)
      }
    }
    val kf = spark.read.parquet(s"$corpusDir/kf")
    val shots = spark.read.parquet(s"$corpusDir/shots")
    val emb2 = emb.select(col("vec_id").as("id"), col("embedding").as("clip"),
      reverse(col("embedding")).as("clipv2"))
    val engine = new SearchEngine(Corpus(kf, emb2, shots))

    // the store was built with idCol=vec_id / vecCol=embedding; the
    // facade serves id / clip — a rename projection, under which the
    // cluster partition filter still prunes (projections don't block
    // partition pruning)
    //
    // r18: the bench reads EITHER store layout — the IvfPqScaleProbe
    // `index/` tree (flat coarse, persisted params) or the big-nlist
    // `bignlist/` tree (84k trained centroids + l1/l2 hierarchy + the
    // pq/ leg), preferring the latter so the mix measures the serving
    // shape RECALL.md r17 calls the 100 TB one: two-level probe at the
    // jointly calibrated (nprobeL1=8, nprobe=42) pair, ADC + exact
    // refine over cell-clustered codes.
    val bn = s"$root/bignlist"
    val haveBn = {
      val p = new org.apache.hadoop.fs.Path(s"$bn/_graft_built")
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
    }
    val idx =
      if (haveBn) Similarity.DenseIndex(
        centroids = spark.read.parquet(s"$bn/centroids"),
        cells = spark.read.parquet(s"$bn/cells")
          .withColumnRenamed("vec_id", "id")
          .withColumnRenamed("embedding", "clip"),
        codebooks = spark.read.parquet(s"$bn/pq/codebooks"),
        codes = spark.read.parquet(s"$bn/pq/codes")
          .withColumnRenamed("vec_id", "id"),
        defaultNprobe = Some(sys.env.getOrElse("SPARK_GRAFT_NP", "42").toInt),
        l1 = Some(spark.read.parquet(s"$bn/l1")),
        l2 = Some(spark.read.parquet(s"$bn/l2")),
        defaultNprobeL1 =
          Some(sys.env.getOrElse("SPARK_GRAFT_NPL1", "8").toInt),
        numSub = 96, subDim = 8)
      else {
        val params = spark.read.parquet(s"$root/index/params").head
        Similarity.DenseIndex(
          centroids = spark.read.parquet(s"$root/index/centroids"),
          cells = spark.read.parquet(s"$root/index/cells")
            .withColumnRenamed("vec_id", "id")
            .withColumnRenamed("embedding", "clip"),
          codebooks = spark.read.parquet(s"$root/index/codebooks"),
          codes = spark.read.parquet(s"$root/index/codes")
            .withColumnRenamed("vec_id", "id"),
          defaultNprobe = Some(params.getAs[Int]("default_nprobe")),
          radii = Some(spark.read.parquet(s"$root/index/radii")))
      }

    // ---- panel channel at FLAGSHIP size (VERDICT r15 #4): a synthetic
    // 1M-doc tag corpus (vocabulary of 1000 terms, 3 deterministic terms
    // per keyframe) through the SAME bucketed fitted-index build the sf
    // mix serves — so the term-pruned artifact read path (no corpus
    // tokenize at request time) is measured under concurrency at the
    // geometry where the postings volume matters. Build-once beside the
    // index artifacts; serving-only runs reuse it.
    val panelDir = s"$root/panel"
    val panelIdx = {
      val done = new org.apache.hadoop.fs.Path(s"$panelDir/_graft_built")
      val fs = done.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (markerStale(fs, done)) {
        val tagDocs = emb.select(col("vec_id").as("doc_id"),
          concat_ws(" ",
            concat(lit("t"), pmod(col("vec_id"), lit(1000))),
            concat(lit("t"), pmod(col("vec_id") * 7 + 3, lit(1000))),
            concat(lit("t"), pmod(col("vec_id") * 13 + 5, lit(1000))))
            .as("text"))
        val (_, tP) = time {
          graft.operators.Lexical.writeMultiIndex(spark,
            Seq(("tag", tagDocs, "doc_id", "text")), panelDir)
        }
        System.err.println(f"[flagship] panel index build: ${tP}%.1f s")
        writeMarker(fs, done)
        graft.operators.Lexical.readMultiIndex(spark, panelDir)
      } else graft.operators.Lexical.readMultiIndex(spark, panelDir)
    }

    // request payloads: the base replica's ids (0..baseN) exist verbatim
    // in the flagship corpus, so id-keyed requests draw from that range;
    // query vectors collect ONLY those rows (driver-tiny)
    val baseN = emb.filter(col("vec_id") < 10000000L).count()
    val qvById = emb.filter(col("vec_id") < baseN)
      .select(col("vec_id"), col("embedding"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap

    def prevHits(i: Int): DataFrame =
      (0 until 10).map(j => (((i * 7 + j * 3) % baseN), 0.9 - 0.05 * j))
        .toDF("id", "score")

    // r18: `pqDense` swaps the dense /textsearch channel onto the
    // QUANTIZED serving path (textSearchAnnPq — ADC over M-byte codes
    // through the hierarchy probe + exact refine of the kCoarse
    // shortlist); the other endpoints are unchanged, so the two metric
    // lines isolate exactly the quantized-leg delta under the same mix.
    def mixRequest(i: Int, pqDense: Boolean): (String, () => DataFrame) = {
      val qv = qvById((i.toLong * 13) % baseN)
      def dense(f: Filters): DataFrame =
        if (pqDense) engine.textSearchAnnPq(idx, qv, k = 50, f)
        else engine.textSearchAnn(idx, qv, k = 50, f)
      i % 10 match {
        case 0 | 1 => ("textsearch", () => dense(Filters()))
        case 2 => ("textsearch",
          () => dense(Filters(partitionTag = Some(i % 4))))
        case 3 => ("textsearch",
          () => dense(Filters(ignoreIds = Seq((i.toLong * 11) % baseN))))
        case 4 | 9 => ("imgsearch",
          () => engine.imageSearchAnn(idx, (i.toLong * 17) % baseN, k = 50))
        case 5 => ("panel",
          () => engine.panelIndexed(panelIdx,
            Map("tag" -> Seq(s"t${(i * 37) % 1000}", s"t${(i * 41 + 9) % 1000}")),
            k = 50))
        case 6 | 7 => ("feedback",
          () => engine.feedback(prevHits(i),
            posIds = Seq((i.toLong * 7) % baseN),
            negIds = Seq((i.toLong * 7 + 3) % baseN)))
        case _ => ("temporal",
          () => engine.temporalRequery(prevHits(i), qv, k = 50, range = 2))
      }
    }

    def runMix(metric: String, pqDense: Boolean): Unit = {
      // ---- serial pass (warms scans/codegen; per-endpoint walls)
      val walls = scala.collection.mutable.Map.empty[String, (Int, Double)]
      val (_, tTotal) = time {
        for (i <- 0 until 100) {
          val (ep, thunk) = mixRequest(i, pqDense)
          val (rows, t) = time(thunk().collect())
          require(rows.nonEmpty, s"$ep returned 0 rows — serving broke")
          val (c, w) = walls.getOrElse(ep, (0, 0.0))
          walls(ep) = (c + 1, w + t)
        }
      }

      // ---- concurrent replays, one FAIR pool per client thread.
      // Concurrency 4 runs TWICE (VERDICT r15 #3: the 17.8 s conc-4 max —
      // first-fill vs steady-state is decided by the repeat), and every leg
      // records per-request (endpoint, latency) so an outlier is NAMED in
      // the artifact instead of guessed at.
      val concRows = Seq(("4", 4), ("4b", 4), ("8", 8)).map { case (tag, conc) =>
        val pool = java.util.concurrent.Executors.newFixedThreadPool(conc)
        val lat = new Array[Double](100)
        val eps = new Array[String](100)
        val t0 = System.nanoTime()
        val futures = (0 until 100).map { i =>
          pool.submit(new Runnable {
            def run(): Unit = {
              spark.sparkContext.setLocalProperty(
                "spark.scheduler.pool", s"serve-${i % conc}")
              val (ep, thunk) = mixRequest(i, pqDense)
              val s0 = System.nanoTime()
              val rows = thunk().collect()
              require(rows.nonEmpty, s"$ep returned 0 rows — serving broke")
              lat(i) = (System.nanoTime() - s0) / 1e9
              eps(i) = ep
            }
          })
        }
        futures.foreach(_.get())
        pool.shutdown()
        val wall = (System.nanoTime() - t0) / 1e9
        val sorted = lat.sorted
        val slowest = lat.zipWithIndex.sortBy(-_._1).take(3)
          .map { case (l, i) => f"""{"i":$i,"ep":"${eps(i)}","sec":$l%.3f}""" }
          .mkString("[", ",", "]")
        f""""$tag":{"wall_sec":$wall%.3f,"req_per_sec":${100.0 / wall}%.2f,""" +
          f""""p50_sec":${sorted(49)}%.3f,"p95_sec":${sorted(94)}%.3f,""" +
          f""""max_sec":${sorted(99)}%.3f,"slowest":$slowest}"""
      }.mkString(",")

      val perEp = walls.toSeq.sortBy(_._1)
        .map { case (ep, (c, w)) => f""""$ep":{"requests":$c,"sec":$w%.3f}""" }
        .mkString(",")
      val npL1 = idx.defaultNprobeL1.map(_.toString).getOrElse("null")
      println(f"""{"metric":"$metric","value":$tTotal%.3f,"unit":"sec","requests":100,"corpus_rows":$n,"d":768,"nprobe":${idx.defaultNprobe.get},"nprobe_l1":$npL1,"endpoints":{$perEp},"concurrency":{$concRows}}""")
    }

    runMix("serve_mix_flagship", pqDense = false)
    // the quantized leg needs the pq codes store — present in the
    // bignlist layout (and in index/ trees built with codes)
    if (idx.codes.columns.nonEmpty) runMix("serve_mix_flagship_pq", pqDense = true)
    spark.stop()
  }
}
