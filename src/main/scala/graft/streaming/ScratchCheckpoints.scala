package graft.streaming

import org.apache.spark.sql.SparkSession

/** Session settings for the PER-INVOCATION THROWAWAY checkpoints the
  * oracle/bench streaming queries create (fresh checkpoint dir + memory
  * sink every run — nothing is ever restarted from them):
  *
  *  - [[org.apache.spark.sql.graftshim.NioCheckpointFileManager]] —
  *    commits checkpoint files in-process instead of through Hadoop's
  *    local filesystem, whose rename/create path forks `readlink`/
  *    `chmod`/`ls` shell processes per file without the native-hadoop
  *    library (the measured dominant blocked time of every state-store
  *    task here, r19).
  *  - checkpoint file CHECKSUMS off — Spark 4's corruption detection
  *    protects checkpoints that will be read back after a failure; a
  *    scratch checkpoint is abandoned at query end, so its tasks only
  *    paid the synchronous checksum-future await on every commit.
  *
  * Durable checkpoints (the incremental-index maintenance paths and any
  * cluster deployment) deliberately do NOT go through this: they keep
  * Spark's default manager and checksum protection.
  *
  * The settings live on a session CLONE, never on the caller's session:
  * a set-and-restore on a shared session leaks them to every query
  * planned on it meanwhile — a durable streaming query started
  * concurrently on that session would checkpoint through the scratch
  * manager with checksums off.
  */
object ScratchCheckpoints {
  private val FmKey = "spark.sql.streaming.checkpointFileManagerClass"
  private val CkKey = "spark.sql.streaming.checkpoint.fileChecksum.enabled"

  /** A `spark.newSession()` clone with the scratch-checkpoint conf set;
    * build the throwaway streaming query (its source and its memory
    * sink's table) on the clone. The caller's session is untouched. */
  def newSession(spark: SparkSession): SparkSession = {
    val s = spark.newSession()
    s.conf.set(FmKey, "org.apache.spark.sql.graftshim.NioCheckpointFileManager")
    s.conf.set(CkKey, "false")
    s
  }

  /** [[newSession]] with a reduced shuffle-partition count for stateful
    * streaming queries: stateful operators create one (or for
    * stream-stream joins, four) checkpointed state-store instance per
    * shuffle partition, so state parallelism should track KEY cardinality,
    * not the batch-side CPU count — 32 partitions means 128 store setups
    * for a join whose state fits in a handful. Build, run and read back
    * the query on the clone, so queries planned concurrently on the
    * caller's session (parallel suites, Verify tooling) never see the
    * override. */
  def stateSession(spark: SparkSession, partitions: Int): SparkSession = {
    val s = newSession(spark)
    s.conf.set("spark.sql.shuffle.partitions", partitions.toString)
    s
  }
}
