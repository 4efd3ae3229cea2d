package graft.operators

import org.apache.spark.sql.DataFrame

/** Cost-gated one-shot materialization of a multiply-consumed subplan —
  * the shared form of the packSequences stage-once pattern (r14/r18).
  *
  * Spark performs no common-subtree elimination across DataFrame
  * branches: a frame consumed by two downstream operators re-runs its
  * whole plan per consumer. When the frame is expensive (join /
  * aggregate / window / sort / generate in the OPTIMIZED plan) and
  * consumed more than once, materializing it once is strictly less work;
  * when it is a pure scan/filter/project, re-reading the parquet twice is
  * cheaper than any round-trip, so the gate skips it.
  *
  * Channels: a reliable `checkpoint` when the session has a checkpoint
  * dir configured (cluster FS), else an eager `localCheckpoint` through
  * the block manager (executor-resident blocks, freed by the
  * ContextCleaner once the plan is GC'd). Never a driver-local tmpdir
  * parquet — correct at local[*] but silent data loss on a multi-node
  * cluster. NOTE (ADVICE r18): the localCheckpoint branch TRUNCATES
  * LINEAGE without durability — an executor lost after staging fails the
  * query instead of recomputing. Acceptable for local[*] bench runs; a
  * cluster deployment must configure `sparkContext.setCheckpointDir` so
  * the reliable branch is taken, and only that branch is fault-tolerant.
  *
  * This is NOT result caching across runs: materialization happens at
  * query-construction time inside the timed region, is keyed to nothing,
  * and a re-invocation of the same query re-computes and re-materializes
  * from the parquet inputs.
  */
object Mat {

  /** True when evaluating `df` twice would repeat real work — a join,
    * aggregate, window, sort, distinct or row-multiplying generate in the
    * optimized plan — or when the plan carries a nondeterministic
    * expression (two evaluations could diverge). */
  private[graft] def isExpensive(df: DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical._
    val plan = df.queryExecution.optimizedPlan
    val costly = plan.collectFirst {
      case p @ (_: Join | _: Aggregate | _: Window | _: Sort |
                _: Generate | _: Distinct) => p
    }.isDefined
    val nondeterministic =
      plan.find(p => p.expressions.exists(e => !e.deterministic)).isDefined
    costly || nondeterministic
  }

  /** Materialize `df` once through a cluster-safe channel. */
  def materialize(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined)
      df.checkpoint(eager = true)
    else df.localCheckpoint(eager = true)

  /** [[materialize]] when the plan is worth it ([[isExpensive]]); the
    * frame unchanged otherwise. Call on frames consumed 2+ times. */
  def stageIfExpensive(df: DataFrame): DataFrame =
    if (isExpensive(df)) materialize(df) else df

  /** [[stageIfExpensive]] over INDEPENDENT frames concurrently (r19):
    * each eager materialization is a BLOCKING driver action, so staging
    * n frames one after another serializes n jobs the scheduler would
    * happily overlap (guide §2.6 — actions are only sequential because
    * the driver calls them sequentially). The threads only submit Spark
    * jobs; values are exactly what per-frame [[stageIfExpensive]]
    * returns. Callers must pass frames with NO dependency on each
    * other's staged result.
    *
    * Failure: the FIRST staging to fail is rethrown as itself (the
    * `ExecutionException` wrapper is dropped, so callers see the same
    * exception as a serial [[stageIfExpensive]]), and its siblings are
    * stopped — their futures cancelled, the pool shut down, and their
    * Spark jobs cancelled through a job tag private to this call (the
    * caller's job group is left alone). */
  def stageAllIfExpensive(dfs: Seq[DataFrame]): Seq[DataFrame] =
    if (dfs.lengthCompare(2) < 0) dfs.map(stageIfExpensive)
    else {
      val sc = dfs.head.sparkSession.sparkContext
      val tag = s"graft-stage-${java.util.UUID.randomUUID()}"
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(dfs.size, 4))
      val done = new java.util.concurrent.ExecutorCompletionService[DataFrame](pool)
      try {
        val futs = dfs.map { df =>
          done.submit { () =>
            sc.addJobTag(tag) // a pool thread's own copy of the properties
            stageIfExpensive(df)
          }
        }
        // take in COMPLETION order, so the first failure surfaces while
        // its siblings may still be running
        futs.foreach { _ =>
          try done.take().get()
          catch {
            case e: java.util.concurrent.ExecutionException =>
              futs.foreach(_.cancel(true))
              sc.cancelJobsWithTag(tag)
              throw e.getCause
          }
        }
        futs.map(_.get())
      } finally pool.shutdownNow()
    }
}
