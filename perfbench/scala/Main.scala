package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

/** What one workload run needs: the generated plan, which fixes every
  * operation the run plays, where the corpus tables live, a fresh work
  * directory and whether spans are recorded. */
final case class Ctx(plan: JsonNode, dataDir: String, workDir: String,
    trace: Boolean, spansPath: String)

/** Collects the run's outcome: operation counts, failures with a reason,
  * end-to-end metrics, per-layer metrics and sample counts. */
final class Result {
  private val ops = new java.util.concurrent.atomic.AtomicLong(0)
  def attempted: Long = ops.get()
  val errors = mutable.ArrayBuffer.empty[String]
  val metrics = mutable.LinkedHashMap.empty[String, Double]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  val samples = mutable.LinkedHashMap.empty[String, Int]
  val notes = mutable.LinkedHashMap.empty[String, String]
  /** Wall time of each run phase, for the run record. */
  val phases = mutable.LinkedHashMap.empty[String, Double]
  private var mark = System.nanoTime()
  def phaseDone(name: String): Unit = {
    val now = System.nanoTime(); phases(name) = (now - mark) / 1e9; mark = now
  }
  /** Wall-clock end of the workload's set-up (epoch seconds); the runner
    * measures `setup_s` from the JVM's launch to this point. */
  private var setupDoneEpochS = Double.NaN
  def setupDone(): Unit = {
    val now = java.time.Instant.now()
    setupDoneEpochS = now.getEpochSecond + now.getNano / 1e9
    phaseDone("setup")
  }

  /** Runs one operation, counting it; an exception or a failed check
    * counts it as failed and returns None. */
  def op[A](what: String)(body: => A): Option[A] = {
    ops.incrementAndGet()
    try Some(body)
    catch { case e: Throwable => fail(s"$what: $e"); None }
  }
  def fail(msg: String): Unit = synchronized { errors += msg }
  def check(ok: Boolean, msg: => String): Unit =
    if (!ok) throw new IllegalStateException(s"check failed: $msg")

  def toJson: String = {
    def num(d: Double) = if (d.isNaN || d.isInfinite) "null" else d.toString
    def obj(m: collection.Map[String, Double]) =
      m.map { case (k, v) => s""""$k":${num(v)}""" }.mkString("{", ",", "}")
    val errs = errors.take(20).map(e => "\"" + Main.escape(e) + "\"").mkString("[", ",", "]")
    s"""{"attempted":$attempted,"failed":${errors.size},"errors":$errs,""" +
      s""""setup_done_epoch_s":${num(setupDoneEpochS)},""" +
      s""""metrics":${obj(metrics)},"layers":${obj(layers)},"phases":${obj(phases)},""" +
      s""""samples":${samples.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")},""" +
      s""""notes":${notes.map { case (k, v) => s""""$k":"${Main.escape(v)}"""" }.mkString("{", ",", "}")}}"""
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Nearest-rank quantile; NaN on no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(q * s.size).toInt - 1)))
    }
  def time[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime(); val a = body; (a, (System.nanoTime() - t0) / 1e9)
  }
}

/** Driver heap in use right after a full collection, sampled at phase
  * boundaries, and the driver's own GC time inside the timed phases. */
final class DriverJvm {
  private val mem = ManagementFactory.getMemoryMXBean
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
  var peakLiveMb = 0.0
  var phaseGcS = 0.0
  def sampleLiveHeap(at: String, res: Result): Unit = {
    // a full collection hands dead broadcast and shuffle handles to Spark's
    // ContextCleaner, whose thread then drops their blocks; collect again
    // after it has had time to run
    System.gc()
    Thread.sleep(200)
    System.gc()
    val mb = mem.getHeapMemoryUsage.getUsed / 1048576.0
    res.metrics(s"heap_mb.$at") = mb
    peakLiveMb = math.max(peakLiveMb, mb)
  }
  private def gcMs: Long = gcs.map(g => math.max(0L, g.getCollectionTime)).sum
  /** Times `body` as a timed phase, adding its GC time to [[phaseGcS]]. */
  def phase[A](body: => A): A = {
    val g0 = gcMs
    try body finally phaseGcS += (gcMs - g0) / 1000.0
  }
}

object Main {
  def escape(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => " "
    case c => c.toString
  }

  /** The benchmark is sized for 4 cores. */
  def session(workDir: String, fair: Boolean): SparkSession = {
    val b = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
    if (fair) b.config("spark.scheduler.mode", "FAIR")
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Registers the benchmark's listeners on a session. */
  def listen(spark: SparkSession): (JobListener, PhaseListener) = {
    val jobs = new JobListener
    val phases = new PhaseListener
    spark.sparkContext.addSparkListener(jobs)
    spark.listenerManager.register(phases)
    (jobs, phases)
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val plan = new ObjectMapper().readTree(Files.readAllBytes(Paths.get(opts("plan"))))
    val ctx = Ctx(plan, opts("data"), opts("work"), opts("trace") == "1", opts("spans"))
    val result = plan.get("workload").asText() match {
      case "serve_small" => ServeSmall.run(ctx)
      case "batch_pipeline" => BatchPipeline.run(ctx)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    Files.write(Paths.get(opts("out")), result.toJson.getBytes("UTF-8"))
  }
}
