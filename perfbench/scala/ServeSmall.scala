package perfbench

import java.util.concurrent.{Executors, TimeUnit}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.api.{Corpus, Filters, SearchEngine}
import graft.operators.{Lexical, Similarity}
import graft.streaming.IncrementalIndex
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** The `api.SearchEngine` facade over the sf0.1-derived keyframe corpus
  * (2,000 keyframes at d=64, `clip` plus the reversed `clipv2`, 20
  * keyframes per video, 2 per shot, the `documents` tag channel).
  *
  * Phases: set-up, index build (dense IVF plus panel index), untimed
  * warm-up cycles, the 10-request cycle with one closed-loop client, then
  * with four clients each in its own FAIR pool, then the write phase
  * (ingest, tombstone, reads over build cells plus the increment) and one
  * compaction. The plan lists every request and write of each phase. Every
  * response is checked on the driver. */
object ServeSmall {
  private val Clients = 4
  private val json = new ObjectMapper()

  /** The engine's score: a double-accumulated dot product in index
    * order, rounded HALF_UP to 6 places. */
  def score(q: Array[Float], v: Array[Float]): Double = {
    var acc = 0.0
    var i = 0
    while (i < q.length) { acc += q(i).toDouble * v(i).toDouble; i += 1 }
    BigDecimal(acc).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  /** Driver-side copy of the corpus vectors, keyed by id. */
  final class Vectors(val byId: Map[Long, Array[Float]]) {
    def score(q: Array[Float], id: Long): Double = ServeSmall.score(q, byId(id))
    /** Brute-force top-k: score desc, ties by id. */
    def topK(q: Array[Float], k: Int, ids: Iterable[Long]): Seq[(Long, Double)] =
      ids.map(i => i -> score(q, i)).toSeq.sortBy { case (i, s) => (-s, i) }.take(k)
  }

  final case class Env(spark: SparkSession, engine: SearchEngine, emb: DataFrame,
      docs: DataFrame, vecs: Vectors)

  private def setup(ctx: Ctx, keyframes: Int, reserved: Int): Env = {
    val spark = Main.session(ctx.workDir, fair = true)
    val emb = spark.read.parquet(s"${ctx.dataDir}/embeddings.parquet")
    // keyframe metadata covers ids registered ahead of ingest, so vectors
    // landed by the write phase are servable candidates
    val kf = spark.range(0, keyframes + reserved).select(col("id"),
      lit("kf").as("collection"),
      concat(lit("V"), (col("id") / 20).cast("int")).as("video_id"),
      ((col("id") % 20) / 2).cast("int").as("shot_id"),
      (col("id") % 4).cast("int").as("partition_tag"))
    val emb2 = emb.select(col("vec_id").as("id"), col("embedding").as("clip"),
      reverse(col("embedding")).as("clipv2"))
    val shots = kf.groupBy(col("video_id"), col("shot_id"))
      .agg(sort_array(collect_list(col("id"))).as("keyframe_ids"))
    val vecs = new Vectors(emb.select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap)
    require(vecs.byId.size == keyframes, s"corpus has ${vecs.byId.size} rows, want $keyframes")
    val docs = spark.read.parquet(s"${ctx.dataDir}/documents.parquet")
      .filter(col("doc_id") < keyframes)
    Env(spark, new SearchEngine(Corpus(kf, emb2, shots)), emb2, docs, vecs)
  }

  /** Flattens grouped search responses (video_id, best_score, ids,
    * scores) to (id, score) pairs. */
  private def flat(rows: Array[Row]): Seq[(Long, Double)] =
    rows.toSeq.flatMap { r =>
      r.getAs[collection.Seq[Long]]("ids").zip(r.getAs[collection.Seq[Double]]("scores"))
    }

  private def longs(n: JsonNode): Seq[Long] = n.elements().asScala.map(_.asLong()).toSeq

  private def prevHits(spark: SparkSession, n: JsonNode): DataFrame = {
    import spark.implicits._
    n.elements().asScala.map(p => (p.get(0).asLong(), p.get(1).asDouble())).toSeq
      .toDF("id", "score")
  }

  def run(ctx: Ctx): Result = {
    val res = new Result
    val p = ctx.plan
    val k = p.get("k").asInt()
    val keyframes = p.get("keyframes").asInt()
    val reserved = p.get("reserved_ids").asInt()
    val cycle = p.get("cycle").asInt()
    def requests(phase: String) = p.get(phase).elements().asScala.toIndexedSeq
    val jvm = new DriverJvm

    // ---- set-up: session, corpus and the driver's vector table
    val Env(spark, engine, emb2, docs, vecs) = setup(ctx, keyframes, reserved)
    res.setupDone()
    // listeners only in traced runs: untraced runs measure the bare engine
    val listeners = if (ctx.trace) Some(Main.listen(spark)) else None
    val tracer = new Tracer(spark.sparkContext, ctx.trace)
    jvm.sampleLiveHeap("setup", res)
    val work = ctx.workDir

    // ---- index build: dense IVF (default geometry) and the panel index
    val ((idx, panelIdx), tBuild) = Stats.time {
      jvm.phase {
        val d = tracer.span("similarity.build_dense") {
          Similarity.buildDenseIndex(emb2.select(col("id"), col("clip")), s"$work/dense",
            idCol = "id", vecCol = "clip")
        }
        val pi = tracer.span("lexical.write_multi_index") {
          Lexical.writeMultiIndex(spark, Seq(("tag", docs, "doc_id", "text")), s"$work/panel")
        }
        (d, pi)
      }
    }
    res.metrics("build_s") = tBuild
    res.phaseDone("build")
    jvm.sampleLiveHeap("build", res)

    val allIds = vecs.byId.keys.toSeq
    val resultRows = new java.util.concurrent.atomic.AtomicLong(0)
    val recalls = new java.util.concurrent.ConcurrentLinkedQueue[Double]()

    def shotOf(id: Long) = (id / 20, (id % 20) / 2)

    /** Builds, plans and runs one request and checks its response. */
    def serve(r: JsonNode, index: => Similarity.DenseIndex, store: Map[Long, Array[Float]],
        dead: Set[Long]): Unit = {
      val ep = r.get("ep").asText()
      val rows = tracer.span(s"req.$ep") {
        val df = tracer.span(s"api.$ep.construct")(ep match {
          case "textsearch_ann" =>
            val f = Filters(
              ignoreIds = Option(r.get("ignore")).map(longs).getOrElse(Nil),
              partitionTag = Option(r.get("partition_tag")).map(_.asInt()))
            engine.textSearchAnn(index, vecs.byId(r.get("q").asLong()), k = k, filters = f)
          case "textsearch_exact" =>
            engine.textSearch(vecs.byId(r.get("q").asLong()), k = k)
          case "imgsearch" => engine.imageSearchAnn(index, r.get("id").asLong(), k = k)
          case "panel" =>
            engine.panelIndexed(panelIdx, Map("tag" -> r.get("terms").elements().asScala
              .map(_.asText()).toSeq), k = k)
          case "feedback" =>
            engine.feedback(prevHits(spark, r.get("prev")), longs(r.get("pos")), longs(r.get("neg")))
          case "temporal" =>
            engine.temporalRequery(prevHits(spark, r.get("prev")), vecs.byId(r.get("q").asLong()),
              k = k, range = r.get("range").asInt())
        })
        if (tracer.enabled) tracer.span(s"api.$ep.plan")(df.queryExecution.executedPlan)
        tracer.span(s"api.$ep.execute")(df.collect())
      }
      resultRows.addAndGet(rows.length)
      checkResponse(ep, r, rows, store, dead)
    }

    def checkResponse(ep: String, r: JsonNode, rows: Array[Row],
        store: Map[Long, Array[Float]], dead: Set[Long]): Unit = {
      res.check(rows.nonEmpty, s"$ep returned no rows")
      def scored(q: Array[Float], hits: Seq[(Long, Double)]): Unit = {
        res.check(hits.size <= k && hits.map(_._1).distinct.size == hits.size,
          s"$ep returned ${hits.size} hits or duplicate ids")
        hits.foreach { case (id, s) =>
          res.check(!dead(id), s"$ep returned deleted id $id")
          val want = score(q, store.getOrElse(id, vecs.byId(id)))
          res.check(want == s, s"$ep id $id score $s, want $want")
        }
      }
      ep match {
        case "textsearch_ann" =>
          val q = vecs.byId(r.get("q").asLong())
          val hits = flat(rows)
          scored(q, hits)
          Option(r.get("partition_tag")).foreach(t =>
            res.check(hits.forall(_._1 % 4 == t.asInt()), s"filter partition_tag=$t leaked"))
          Option(r.get("ignore")).foreach { ig =>
            val banned = longs(ig).map(shotOf).toSet
            res.check(hits.forall(h => !banned(shotOf(h._1))), "ignored shot leaked")
          }
          if (r.get("ignore") == null && r.get("partition_tag") == null && store.isEmpty) {
            val exact = vecs.topK(q, k, allIds).map(_._1).toSet
            recalls.add(hits.count(h => exact(h._1)).toDouble / exact.size)
          }
        case "textsearch_exact" =>
          val q = vecs.byId(r.get("q").asLong())
          val got = flat(rows).sortBy { case (i, s) => (-s, i) }
          val want = vecs.topK(q, k, allIds)
          res.check(got == want, s"exact top-$k differs from brute force: ${got.take(3)} vs ${want.take(3)}")
        case "imgsearch" => scored(vecs.byId(r.get("id").asLong()), flat(rows))
        case "panel" => res.check(flat(rows).size <= k, "panel returned more than k hits")
        case "feedback" =>
          val allowed = r.get("prev").elements().asScala.map(_.get(0).asLong()).toSet --
            longs(r.get("neg"))
          res.check(rows.forall(x => allowed(x.getAs[Long]("id"))), "feedback returned a non-candidate id")
        case "temporal" =>
          val q = vecs.byId(r.get("q").asLong())
          val hitShots = r.get("prev").elements().asScala.map(h => shotOf(h.get(0).asLong())).toSeq
          rows.foreach { x =>
            val id = x.getAs[Long]("id")
            val (v, s) = shotOf(id)
            res.check(hitShots.exists { case (hv, hs) => hv == v && s >= hs + 1 && s <= hs + 2 },
              s"temporal id $id outside the re-query window")
            res.check(x.getAs[Double]("score") == vecs.score(q, id), s"temporal id $id score")
          }
      }
    }

    def runOne(r: JsonNode, what: String): Option[(String, Double)] = {
      val ep = r.get("ep").asText()
      res.op(s"$what $ep")(ep -> Stats.time(serve(r, idx, Map.empty, Set.empty))._2)
    }

    val opWindows = mutable.ArrayBuffer.empty[(Long, Long)]
    def window[A](body: => A): A = {
      val a = System.currentTimeMillis()
      try body finally opWindows += ((a, System.currentTimeMillis()))
    }

    /** Serves the plan's requests of `phase` with `n` closed-loop
      * clients; with more than one, each runs in its own FAIR pool.
      * Returns the (endpoint, latency) of each request that succeeded and
      * the throughput while every client had work. */
    def clients(n: Int, phase: String): (Seq[(String, Double)], Double) = {
      val reqs = requests(phase)
      val lat = new java.util.concurrent.ConcurrentLinkedQueue[(String, Double)]()
      val done = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
      val lock = new Object
      var cursor = 0
      var lastIssue = 0L
      def take(): Int = lock.synchronized {
        if (cursor >= reqs.size) -1
        else { if (cursor == reqs.size - 1) lastIssue = System.nanoTime(); cursor += 1; cursor - 1 }
      }
      def loop(): Unit = {
        var i = take()
        while (i >= 0) {
          runOne(reqs(i), s"$phase request $i").foreach { t => lat.add(t); done.add(System.nanoTime()) }
          i = take()
        }
      }
      val t0 = System.nanoTime()
      window(jvm.phase {
        if (n == 1) loop()
        else {
          val pool = Executors.newFixedThreadPool(n)
          val fs = (0 until n).map { c =>
            pool.submit(new Runnable {
              def run(): Unit = {
                spark.sparkContext.setLocalProperty("spark.scheduler.pool", s"client-$c")
                loop()
              }
            })
          }
          try fs.foreach(_.get())
          finally { pool.shutdown(); pool.awaitTermination(1, TimeUnit.MINUTES) }
        }
      })
      // throughput while all clients still had work: completions up to the
      // issue of the last request, so the drain of the final requests
      // does not count
      val busy = done.asScala.count(_ <= lastIssue)
      (lat.asScala.toSeq, busy / ((lastIssue - t0) / 1e9))
    }

    // ---- warm-up: untimed, four clients
    clients(Clients, "warmup")
    opWindows.clear()
    val firstTimed = tracer.lastId + 1
    resultRows.set(0)
    jvm.phaseGcS = 0
    res.phaseDone("warmup")

    // ---- one closed-loop client. One cycle's wall time is the sum over
    // endpoints of the endpoint's median latency times its share of the
    // cycle: a median that a request landing on either side of the mix's
    // latency clusters cannot flip.
    val (lat1, _) = clients(1, "client1")
    val lastClient1 = tracer.lastId
    val perCycle = requests("client1").take(cycle).map(_.get("ep").asText()).groupBy(identity)
    val epMedians = perCycle.map { case (ep, n) =>
      ep -> (n.size, Stats.median(lat1.collect { case (`ep`, t) => t }))
    }
    epMedians.foreach { case (ep, (_, m)) => res.metrics(s"serve.p50.$ep") = m }
    res.metrics("wall_s") = epMedians.values.map { case (n, m) => n * m }.sum
    res.metrics("serve.latency_p50_s") = Stats.median(lat1.map(_._2))
    res.metrics("serve.latency_p90_s") = Stats.quantile(lat1.map(_._2), 0.9)
    res.samples("latency_1client") = lat1.size
    res.phaseDone("client1")

    // ---- four closed-loop clients, each in its own FAIR pool
    val (c4, rps) = clients(Clients, "client4")
    val lastServe = tracer.lastId
    val serveRows = resultRows.get()
    res.metrics("throughput_rps") = rps
    res.metrics("serve.latency_c4_p90_s") = Stats.quantile(c4.map(_._2), 0.9)
    res.samples("latency_4client") = c4.size
    res.phaseDone("client4")
    jvm.sampleLiveHeap("serve", res)

    // ---- write phase: ingest, tombstone, read over build + increment
    val inc = s"$work/increment"
    val landing = s"$work/landing"
    val ckpt = s"$work/checkpoint"
    val ingest = mutable.ArrayBuffer.empty[Double]
    val deletes = mutable.ArrayBuffer.empty[Double]
    val readsUW = mutable.ArrayBuffer.empty[Double]
    val landed = mutable.LinkedHashMap.empty[Long, Array[Float]]
    var dead = Set.empty[Long]
    val writes = p.get("writes").elements().asScala.toIndexedSeq
    import spark.implicits._
    jvm.phase {
      writes.zipWithIndex.foreach { case (wr, w) =>
        val batch = wr.get("batch").elements().asScala
          .map(b => (b.get(0).asLong(), b.get(1).asLong())).toSeq
        batch.toDF("id", "src").join(emb2.select(col("id").as("src"), col("clip")), "src")
          .select(col("id"), col("clip")).write.mode("append").parquet(landing)
        res.op(s"ingest $w") {
          val (_, t) = Stats.time(tracer.span("incremental.update_dense") {
            IncrementalIndex.updateDenseIndex(spark, landing, inc, ckpt, idx.centroids,
              idCol = "id", vecCol = "clip")
          })
          ingest += t
        }
        batch.foreach { case (id, src) => landed(id) = vecs.byId(src) }
        val del = longs(wr.get("delete"))
        res.op(s"delete $w") {
          val (got, t) = Stats.time(tracer.span("incremental.delete") {
            IncrementalIndex.deleteFromDenseIndex(spark, inc, del.toDF("id"), idCol = "id")
          })
          deletes += t
          res.check(got == del.size, s"tombstoned $got of ${del.size} ids")
        }
        dead ++= del
        // each read loads the increment (tombstones masked) beside the
        // build cells, as a server answering during ingest does
        def both = idx.copy(cells = idx.cells.unionByName(
          IncrementalIndex.loadDenseStore(spark, inc, "id").select(idx.cells.columns.map(col): _*)))
        longs(wr.get("reads")).foreach { q =>
          val r = json.createObjectNode().put("ep", "textsearch_ann").put("q", q)
          res.op(s"read-under-write $w") {
            readsUW += Stats.time(serve(r, both, landed.toMap, dead))._2
          }
        }
      }
    }
    val lastTimed = tracer.lastId
    res.metrics("serve.ingest_p50_s") = Stats.median(ingest.toSeq)
    res.metrics("serve.delete_p50_s") = Stats.median(deletes.toSeq)
    res.metrics("serve.read_under_write_p50_s") = Stats.median(readsUW.toSeq)
    res.samples("ingest") = ingest.size
    res.samples("delete") = deletes.size
    res.samples("read_under_write") = readsUW.size
    res.phaseDone("write")
    val storeFiles = countFiles(inc)
    res.op("compact") {
      tracer.span("incremental.compact")(IncrementalIndex.compactDenseStores(spark, inc, idCol = "id"))
      val live = IncrementalIndex.loadDenseStore(spark, inc, "id").select("id").as[Long].collect().toSet
      res.check(live == landed.keySet.toSet -- dead,
        s"increment holds ${live.size} ids after compaction, want ${landed.size - dead.size}")
    }
    jvm.sampleLiveHeap("write", res)

    // ---- untimed checks: exact mode against brute force, panelIndexed
    // against the scanning panel, and recall of the plain ANN responses
    p.get("exact_checks").elements().asScala.foreach { q =>
      val r = json.createObjectNode().put("ep", "textsearch_exact").put("q", q.asLong())
      res.op("exact check")(serve(r, idx, Map.empty, Set.empty))
    }
    p.get("panel_checks").elements().asScala.foreach { ts =>
      val terms = ts.elements().asScala.map(_.asText()).toSeq
      res.op(s"panel check $terms") {
        val got = engine.panelIndexed(panelIdx, Map("tag" -> terms), k = k).collect().toSeq
        val want = engine.panel(docs.select(col("doc_id").as("id"), col("text").as("tag")),
          Map("tag" -> terms), k = k).collect().toSeq
        res.check(got == want, s"panelIndexed != panel for $terms")
      }
    }
    val rc = recalls.asScala.toSeq
    res.metrics("serve.recall_at_k") = if (rc.isEmpty) Double.NaN else rc.sum / rc.size
    res.samples("recall_queries") = rc.size
    res.metrics("heap_live_peak_mb") = jvm.peakLiveMb
    res.phaseDone("checks")

    if (tracer.enabled) {
      org.apache.spark.PerfbenchListenerBus.drain(spark.sparkContext)
      val (jobs, phases) = listeners.get
      val L = new Layers(tracer, jobs, phases)
      val out = res.layers
      // api medians split the 1-client requests, whose latencies make up
      // wall_s; exact mode is served only by the untimed exact checks
      def client1(s: Span) = s.req >= firstTimed && s.req <= lastClient1
      for (e <- Seq("textsearch_ann", "imgsearch", "panel", "feedback", "temporal");
           s <- Seq("construct", "plan", "execute"))
        out(s"api.$e.${s}_s") = L.medianSeconds(s"api.$e.$s", client1)
      for (s <- Seq("construct", "plan", "execute"))
        out(s"api.textsearch_exact.${s}_s") = L.medianSeconds(s"api.textsearch_exact.$s", _.req > lastTimed)
      // scheduler, executor and catalyst figures cover both serving phases
      def served(s: Span) = s.req >= firstTimed && s.req <= lastServe
      val reqs = L.named("req.").filter(served)
      out("api.construct_jobs_per_req") =
        L.jobsUnder(s => served(s) && s.name.startsWith("api.") && s.name.endsWith(".construct")).size /
          math.max(1, reqs.size).toDouble
      L.perOp(s => s.name.startsWith("req.") && served(s), opWindows.toSeq, serveRows, out)
      out("similarity.build_dense_s") = L.totalSeconds("similarity.build_dense")
      out("similarity.build_dense_jobs") = L.jobsUnder(_.name == "similarity.build_dense").size
      out("lexical.write_multi_index_s") = L.totalSeconds("lexical.write_multi_index")
      out("incremental.update_dense_s") = L.medianSeconds("incremental.update_dense")
      out("incremental.delete_s") = L.medianSeconds("incremental.delete")
      out("incremental.compact_s") = L.totalSeconds("incremental.compact")
      out("incremental.store_files") = storeFiles
      out("incremental.bytes_written_mb") =
        L.jobsUnder(_.name.startsWith("incremental.")).map(_.outputBytes).sum / 1048576.0 /
          math.max(1, ingest.size)
      out("driver.gc_s") = jvm.phaseGcS
      tracer.writeJsonl(java.nio.file.Paths.get(ctx.spansPath), L.jobsBySpan)
    }
    spark.stop()
    res
  }

  private def countFiles(dir: String): Double = {
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try s.filter(_.toString.endsWith(".parquet")).count().toDouble finally s.close()
  }
}
