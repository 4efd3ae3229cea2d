package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.util.control.NonFatal

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Where a query's time goes: `graft.Profile <sfDir> [q1,q2,...]` runs the
  * named [[SparkEntry]] queries (all when none named) twice each, with
  * [[Bench]]'s warm-up and noop sink, and one listener prints as it goes:
  *   - `[job]` per Spark job: id, wall ms and call site (stage name plus
  *     the first graft/Dataset frames), so "many jobs for one search"
  *     decomposes into nameable driver actions;
  *   - `[stage]` per completed stage: tasks, summed task run and CPU ms
  *     (run >> cpu is time blocked, not computing), shuffle-read bytes and
  *     spilled bytes;
  *   - `[profile]` per (query, pass): wall seconds, jobs, stages, tasks and
  *     summed task seconds — many tiny jobs vs a few heavy stages.
  * The last line is one JSON object: per query the min and max wall over
  * the passes with the faster pass's counts, or `"error": "<class>:
  * <message>"` for a query that threw — and then the exit status is 1. */
object Profile {
  private case class Pass(sec: Double, jobs: Int, stages: Int, tasks: Int, taskSec: Double)

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.orElse(sys.env.get("SPARK_GRAFT_SF_DIR"))
      .getOrElse(sys.error("usage: graft.Profile <sfDir> [q1,q2,...]"))
    val names: Seq[String] =
      if (args.length > 1) args(1).split(",").toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    spark.sparkContext.setLogLevel("WARN")

    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    val tasks = new AtomicInteger(0)
    val taskMs = new AtomicLong(0L)
    val openJobs = new ConcurrentHashMap[Int, (Long, String)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        val site = j.stageInfos.lastOption.map { si =>
          si.name + " | " + si.details.linesIterator
            .filter(l => l.contains("graft.") || l.contains("Dataset"))
            .take(3).mkString(" <- ")
        }.getOrElse("?")
        openJobs.put(j.jobId, (j.time, site))
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        Option(openJobs.remove(j.jobId)).foreach { case (start, site) =>
          println(f"[job] ${j.jobId}%4d ${j.time - start}%8d ms  $site")
        }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        val si = s.stageInfo
        val m = si.taskMetrics
        stages.incrementAndGet()
        tasks.addAndGet(si.numTasks)
        taskMs.addAndGet(m.executorRunTime)
        println(f"[stage] ${si.stageId}%4d tasks=${si.numTasks}%4d " +
          f"run=${m.executorRunTime}%7d ms cpu=${m.executorCpuTime / 1000000}%7d ms " +
          f"srBytes=${m.shuffleReadMetrics.totalBytesRead}%10d " +
          f"spill=${m.diskBytesSpilled}%8d  ${si.name.take(70)}")
      }
    })

    spark.range(1000000L).selectExpr("sum(id)").collect()
    Tables.names.foreach { n =>
      try spark.read.parquet(s"$sfDir/$n.parquet").count()
      catch { case _: Throwable => () }
    }

    def snap(): (Int, Int, Int, Long) = (jobs.get, stages.get, tasks.get, taskMs.get)
    def profile(name: String): Seq[Pass] = {
      val fn = SparkEntry.queries.getOrElse(name,
        throw new NoSuchElementException(s"no query named $name"))
      (1 to 2).map { pass =>
        println(s"===== $name pass $pass =====")
        val (j0, s0, t0, m0) = snap()
        val w0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        val sec = (System.nanoTime() - w0) / 1e9
        // let straggling listener events drain before the snapshot
        // (outside the timed region — the sleep is instrument overhead)
        Thread.sleep(200)
        val (j1, s1, t1, m1) = snap()
        val p = Pass(sec, j1 - j0, s1 - s0, t1 - t0, (m1 - m0) / 1e3)
        println(f"[profile] $name%-32s p$pass ${p.sec}%8.3fs jobs=${p.jobs}%3d " +
          f"stages=${p.stages}%3d tasks=${p.tasks}%5d taskTime=${p.taskSec}%8.2fs")
        p
      }
    }
    // a query that throws is an error entry, never a timing: the wall of a
    // pass cut short by an exception would read as a fast query
    val results = names.map { n =>
      n -> (try Right(profile(n)) catch {
        case NonFatal(e) => Left(s"${e.getClass.getName}: ${e.getMessage}")
      })
    }
    val entries = results.map {
      case (n, Left(err)) => (n, Double.MaxValue, s""""error":${Verify.jsonString(err)}""")
      case (n, Right(ps)) =>
        val best = ps.minBy(_.sec)
        (n, best.sec, s""""min_sec":${best.sec},"max_sec":${ps.map(_.sec).max},""" +
          s""""jobs":${best.jobs},"stages":${best.stages},"tasks":${best.tasks},""" +
          s""""task_sec":${best.taskSec}""")
    }
    println(entries.sortBy(-_._2)
      .map { case (n, _, body) => s"${Verify.jsonString(n)}:{$body}" }
      .mkString("""{"profile":{""", ",", "}}"))
    spark.stop()
    if (results.exists(_._2.isLeft)) sys.exit(1)
  }
}
