package graft.operators

import org.apache.spark.sql.SparkSession

/** Names the Spark jobs of a multi-job driver routine by its legs. */
private[graft] object JobPhases {

  /** Runs `body` with a `phase` callback that names the Spark jobs started
    * after it: `phase(leg)` sets the job description to `<what>: <leg>`,
    * so a listener can tell which leg of a multi-job build every job
    * belongs to. AQE submits its stage jobs with the caller's local
    * properties, so they carry the leg's name too. The caller's
    * description is restored afterwards; the job group is never touched
    * (callers and tracers own it). */
  def apply[A](spark: SparkSession, what: String)(body: (String => Unit) => A): A = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    try body(leg => sc.setJobDescription(s"$what: $leg"))
    finally sc.setLocalProperty("spark.job.description", prev)
  }
}
