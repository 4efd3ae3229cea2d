package graft

import graft.api.{Corpus, Filters, SearchEngine}
import graft.operators.{Lexical, Similarity}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** ENDPOINT-MIX serving bench (VERDICT r12 next-round #6): the §3 facade
  * ([[SearchEngine]]) driven by a deterministic 100-request mix over
  * artifacts fitted ONCE from the sf tables — the serving-path
  * regression canary the per-operator bench can't be (each Bench query
  * exercises one operator; a request mix exercises the facade's
  * composition: candidate filtering, ANN probing, fusion, grouping,
  * rerank, temporal expansion, all interleaved like production traffic).
  *
  * Mix per 10 requests: 4x /textsearch (ANN, rotating query vectors and
  * filters), 2x /panel (fitted multi-channel index, rotating terms),
  * 2x /feedback (Rocchio rerank with votes), 1x temporal re-query,
  * 1x /imgsearch (ANN by stored id). All artifacts are build-once;
  * request walls exclude the build and are reported per endpoint. After
  * the serial pass the SAME mix replays under concurrent dispatch
  * (4 and 8 client threads, one FAIR pool each — VERDICT r13 #5): the
  * reference serves threaded, so requests/s and tail latency under
  * concurrency are the deployment-sizing numbers.
  *
  * Prints ONE JSON line like [[Bench]]:
  * `{"metric":"serve_mix","value":<total sec>,...}` — committed as
  * `BENCH_SERVE.json` with the round's BASELINE.md entry.
  *
  * Run: `SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 java -cp ... graft.ServeMixBench`. */
object ServeMixBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // FAIR job scheduling for the concurrent passes: per-thread pools
    // (created on demand, default weight 1) time-share the executor
    // instead of FIFO-convoying whole jobs behind each other. The serial
    // pass is unaffected (one job stream = FIFO within its pool).
    val spark = Sessions.local(cpus, fair = true)
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = f; (a, (System.nanoTime() - t0) / 1e9)
    }

    // ---- corpus: the FIXTURES.md §A shape derived deterministically from
    // the sf embeddings table (20 keyframes per video, 2 per shot)
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val kf = emb.select(col("vec_id").as("id"), lit("kf").as("collection"),
      concat(lit("V"), (col("vec_id") / 20).cast("int")).as("video_id"),
      ((col("vec_id") % 20) / 2).cast("int").as("shot_id"),
      (col("vec_id") % 4).cast("int").as("partition_tag"))
    val emb2 = emb.select(col("vec_id").as("id"), col("embedding").as("clip"),
      reverse(col("embedding")).as("clipv2"))
    val shots = kf.groupBy(col("video_id"), col("shot_id"))
      .agg(sort_array(collect_list(col("id"))).as("keyframe_ids"))
    val corpus = Corpus(kf, emb2, shots)
    val engine = new SearchEngine(corpus)
    val n = emb.count()

    // ---- build-once artifacts (walls reported separately from serving)
    val work = java.nio.file.Files.createTempDirectory("graft_servemix").toString
    val (denseIdx, tDense) = time {
      Similarity.buildDenseIndex(emb2.select(col("id"), col("clip")),
        s"$work/dense", idCol = "id", vecCol = "clip",
        calibrateRecall = Some(0.8))
    }
    // the tag channel describes the SAME items the keyframes serve (the
    // reference's per-keyframe tag text), so restrict the documents table
    // to the keyframe id space
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .filter(col("doc_id") < n)
    val (panelIdx, tPanel) = time {
      Lexical.writeMultiIndex(spark,
        Seq(("tag", docs, "doc_id", "text")), s"$work/panel")
    }

    // driver-side query-vector table (request payloads are tiny, like the
    // reference's encoded query vectors)
    val qvById = emb.select(col("vec_id"), col("embedding"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap

    def prevHits(i: Int): DataFrame =
      (0 until 10).map(j => (((i * 7 + j * 3) % n), 0.9 - 0.05 * j))
        .toDF("id", "score")

    // all terms verified in the synthetic documents vocabulary (an
    // off-vocabulary channel legitimately returns 0 rows and would trip
    // the serving-broke guard)
    val terms = Vector(
      Seq("spark", "join"), Seq("data", "query"), Seq("stream", "window"),
      Seq("table", "merge"), Seq("filter", "scan"))

    // ---- the deterministic 100-request mix, as (endpoint, plan thunk)
    def mixRequest(i: Int): (String, () => DataFrame) = {
      val qv = qvById((i.toLong * 13) % n)
      i % 10 match {
        case 0 | 1 => ("textsearch",
          () => engine.textSearchAnn(denseIdx, qv, k = 50))
        case 2 => ("textsearch",
          () => engine.textSearchAnn(denseIdx, qv, k = 50,
            Filters(partitionTag = Some(i % 4))))
        case 3 => ("textsearch",
          () => engine.textSearchAnn(denseIdx, qv, k = 50,
            Filters(ignoreIds = Seq((i.toLong * 11) % n))))
        case 4 | 5 => ("panel",
          () => engine.panelIndexed(panelIdx,
            Map("tag" -> terms((i / 10) % terms.size)), k = 50))
        case 6 | 7 => ("feedback",
          () => engine.feedback(prevHits(i),
            posIds = Seq((i.toLong * 7) % n),
            negIds = Seq((i.toLong * 7 + 3) % n)))
        case 8 => ("temporal",
          () => engine.temporalRequery(prevHits(i), qv, k = 50, range = 2))
        case _ => ("imgsearch",
          () => engine.imageSearchAnn(denseIdx, (i.toLong * 17) % n, k = 50))
      }
    }

    // ---- serial pass (the r13 canonical shape; also warms scans/codegen)
    val walls = scala.collection.mutable.Map.empty[String, (Int, Double)]
    val (_, tTotal) = time {
      for (i <- 0 until 100) {
        val (ep, thunk) = mixRequest(i)
        val (rows, t) = time(thunk().collect())
        require(rows.nonEmpty, s"$ep returned 0 rows — serving broke")
        val (c, w) = walls.getOrElse(ep, (0, 0.0))
        walls(ep) = (c + 1, w + t)
      }
    }

    // ---- CONCURRENT passes (r14, VERDICT r13 #5): the reference serves
    // threaded (Flask's default), so the number a deployment sizes against
    // is the mix under concurrent dispatch — requests/s and tail latency,
    // not serial s/request. Each client thread runs in its own FAIR pool
    // (default weight 1 — equal shares; local-property scoped per thread),
    // so one heavy panel request cannot convoy the ANN requests behind it
    // the way FIFO job scheduling would.
    val concRows = Seq(4, 8).map { conc =>
      val pool = java.util.concurrent.Executors.newFixedThreadPool(conc)
      val lat = new Array[Double](100)
      val t0 = System.nanoTime()
      val futures = (0 until 100).map { i =>
        pool.submit(new Runnable {
          def run(): Unit = {
            spark.sparkContext.setLocalProperty(
              "spark.scheduler.pool", s"serve-${i % conc}")
            val (ep, thunk) = mixRequest(i)
            val s0 = System.nanoTime()
            val rows = thunk().collect()
            require(rows.nonEmpty, s"$ep returned 0 rows — serving broke")
            lat(i) = (System.nanoTime() - s0) / 1e9
          }
        })
      }
      futures.foreach(_.get())
      pool.shutdown()
      val wall = (System.nanoTime() - t0) / 1e9
      val sorted = lat.sorted
      f""""$conc":{"wall_sec":$wall%.3f,"req_per_sec":${100.0 / wall}%.2f,""" +
        f""""p50_sec":${sorted(49)}%.3f,"p95_sec":${sorted(94)}%.3f,""" +
        f""""max_sec":${sorted(99)}%.3f}"""
    }.mkString(",")

    val perEp = walls.toSeq.sortBy(_._1)
      .map { case (ep, (c, w)) => f""""$ep":{"requests":$c,"sec":$w%.3f}""" }
      .mkString(",")
    println(f"""{"metric":"serve_mix","value":$tTotal%.3f,"unit":"sec","requests":100,"sf_dir":"$sfDir","corpus_rows":$n,"build":{"dense_sec":$tDense%.1f,"panel_sec":$tPanel%.1f,"nprobe":${denseIdx.defaultNprobe.get}},"endpoints":{$perEp},"concurrency":{$concRows}}""")
    spark.stop()
  }
}
