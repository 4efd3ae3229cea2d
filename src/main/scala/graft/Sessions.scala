package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

/** The one session shape every main runs in (except [[Smoke]], which
  * mimics a bare caller on purpose): `local[cpus]` with one shuffle
  * partition per core, AQE on, UTC session time, and TIMESTAMP(NANOS)
  * parquet columns read as longs — the dtype-strict shape the DuckDB
  * oracle compares against ([[Tables]] converts the longs back). `fair`
  * turns on FAIR job scheduling, which the serving bench needs so its
  * concurrent client threads time-share the executor instead of queueing
  * whole jobs behind each other. */
object Sessions {
  def conf(cpus: String, fair: Boolean = false): SparkConf = {
    val c = new SparkConf(loadDefaults = false)
      .setMaster(s"local[$cpus]")
      .set("spark.sql.shuffle.partitions", cpus)
      .set("spark.sql.adaptive.enabled", "true")
      .set("spark.sql.session.timeZone", "UTC")
      .set("spark.sql.legacy.parquet.nanosAsLong", "true")
      .set("spark.ui.enabled", "false")
    if (fair) c.set("spark.scheduler.mode", "FAIR") else c
  }

  def local(cpus: String, fair: Boolean = false): SparkSession =
    SparkSession.builder().config(conf(cpus, fair)).getOrCreate()
}
