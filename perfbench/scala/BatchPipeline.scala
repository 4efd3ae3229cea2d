package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._

/** One pass of the construction-heavy `SparkEntry.queries` over the sf0.1
  * `documents`/`embeddings` tables, in the order the plan gives. Each query
  * is built (driver-side staging, probe collects, artifact builds into the
  * run's fresh temp directory), then written to the `noop` sink with an
  * observed row count and order-insensitive digest, which must equal the
  * pins in `perfbench/pins.json`. */
object BatchPipeline {

  /** Order-insensitive digest of a result: the exact sum of the 64-bit
    * hashes of every row's JSON form. */
  def digestCols(df: DataFrame): Seq[Column] = Seq(
    count(lit(1)).as("rows"),
    sum(xxhash64(to_json(struct(df.columns.map(c => col(s"`$c`")): _*)))
      .cast("decimal(38,0)")).as("digest"))

  def run(ctx: Ctx): Result = {
    val res = new Result
    val jvm = new DriverJvm
    val queries = ctx.plan.get("queries").elements().asScala.map(_.asText()).toSeq
    val pins = ctx.plan.get("pins")

    // ---- set-up: session start and table reads
    val spark = Main.session(ctx.workDir, fair = false)
    graft.Tables(spark, ctx.dataDir, "documents").count()
    graft.Tables(spark, ctx.dataDir, "embeddings").count()
    res.setupDone()
    // listeners only in traced runs: untraced runs measure the bare engine
    val listeners = if (ctx.trace) Some(Main.listen(spark)) else None
    val tracer = new Tracer(spark.sparkContext, ctx.trace)
    jvm.sampleLiveHeap("setup", res)

    var resultRows = 0L
    val construct = scala.collection.mutable.ArrayBuffer.empty[Double]
    val latency = scala.collection.mutable.ArrayBuffer.empty[Double]
    val t0 = System.currentTimeMillis()
    val (_, wall) = Stats.time(jvm.phase {
      queries.foreach { q =>
        res.op(q) {
          val ob = Observation(q)
          val (_, tq) = Stats.time(tracer.span(s"entry.$q") {
            val (df, tc) = Stats.time(
              tracer.span(s"entry.$q.construct")(graft.SparkEntry.queries(q)(spark, ctx.dataDir)))
            construct += tc
            tracer.span(s"entry.$q.execute") {
              val dc = digestCols(df)
              df.observe(ob, dc.head, dc.tail: _*).write.format("noop").mode("overwrite").save()
            }
          })
          latency += tq
          res.phases(s"query.$q") = tq
          val got = ob.get
          val rows = got("rows").asInstanceOf[Long]
          val digest = String.valueOf(got("digest"))
          resultRows += rows
          res.notes(q) = s"$rows $digest"
          val pin = pins.get(q)
          res.check(pin != null, s"$q has no pin")
          res.check(pin.get("rows").asLong() == rows && pin.get("digest").asText() == digest,
            s"$q rows=$rows digest=$digest, pinned rows=${pin.get("rows")} digest=${pin.get("digest")}")
        }
      }
    })
    val window = Seq((t0, System.currentTimeMillis()))
    res.phaseDone("pass")
    res.metrics("build_s") = construct.sum
    res.metrics("wall_s") = wall
    res.metrics("throughput_rps") = latency.size / wall
    res.metrics("batch.latency_p50_s") = Stats.median(latency.toSeq)
    res.samples("queries") = latency.size
    jvm.sampleLiveHeap("pass", res)
    res.metrics("heap_live_peak_mb") = jvm.peakLiveMb

    if (tracer.enabled) {
      org.apache.spark.PerfbenchListenerBus.drain(spark.sparkContext)
      val (jobs, phases) = listeners.get
      val L = new Layers(tracer, jobs, phases)
      val out = res.layers
      queries.foreach { q =>
        out(s"entry.$q.construct_s") = L.totalSeconds(s"entry.$q.construct")
        out(s"entry.$q.construct_jobs") = L.jobsUnder(_.name == s"entry.$q.construct").size
        out(s"entry.$q.execute_s") = L.totalSeconds(s"entry.$q.execute")
      }
      L.perOp(s => s.name.startsWith("entry.") && s.parent < 0, window, resultRows, out)
      out("driver.gc_s") = jvm.phaseGcS
      tracer.writeJsonl(java.nio.file.Paths.get(ctx.spansPath), L.jobsBySpan)
    }
    spark.stop()
    res
  }
}
