package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._

/** Skew mitigation utilities (SURVEY §4 physical notes: "skewed keys ->
  * salting or AQE skew-join"). AQE's runtime skew-join split handles most
  * cases; these are the explicit forms for when the skew is known up front
  * (a hot video, a hot term in postings, a mega-cluster in IVF).
  */
object Skew {

  /** Two-phase salted aggregation: pre-aggregate on (key, salt) — spreading
    * one hot key over `salts` reducers — then finish on key. `saltExpr`
    * must be deterministic (derive it from a row id, not rand(), so retries
    * and oracle comparison stay stable). */
  def saltedSum(
      df: DataFrame, key: Column, value: Column, saltExpr: Column): DataFrame =
    df.groupBy(key.as("__k"), saltExpr.as("__salt"))
      .agg(sum(value).as("__partial"))
      .groupBy(col("__k"))
      .agg(sum(col("__partial")).as("sum"))
      .withColumnRenamed("__k", "key")

  /** INPUT-skew fan-out (guide §2.5: "one huge unsplittable file …
    * repartition immediately after the read"): when a batch frame's scan
    * yields fewer partitions than half the session's default parallelism
    * — a single local parquet file with one row group is ONE task no
    * matter the split config — redistribute it round-robin across the
    * cores before an expensive per-row pipeline (regex tokenization,
    * n-gram generation). At production scale the input is many
    * files/splits, the condition is false, and NO exchange enters the
    * plan. The check is driver-side planning only: a frame whose plan
    * already holds an exchange (its partitioning is the shuffle's, not the
    * scan's) passes through untouched, because reading its partition count
    * under AQE would run the upstream shuffle stages and discard them.
    * Streaming frames pass through untouched too. */
  def fanOutNarrow(df: DataFrame): DataFrame = {
    // AQE wraps exactly the plans that shuffle (or hold a subquery); a
    // non-adaptive plan shows its exchanges directly
    def shuffles = df.queryExecution.executedPlan.exists {
      case _: AdaptiveSparkPlanExec | _: Exchange => true
      case _ => false
    }
    if (df.isStreaming || shuffles) df
    else {
      // a QUARTER of the cores, not all of them: the generator pipelines
      // this feeds are allocation-heavy (token arrays, n-gram strings),
      // and a measured sweep of the charwb corpus aggregate on local[32]
      // put 8 tasks at wall 1.2 s / gc 0.5 s vs 32 tasks at wall 1.9-2.5 s
      // / gc 2-4 s — full-width fan-out allocation-storms the one shared
      // heap. A quarter engages the machine while leaving the allocator
      // headroom (and other queries' stages run beside it in the suite).
      val target = math.max(2, df.sparkSession.sparkContext.defaultParallelism / 4)
      if (df.rdd.getNumPartitions * 2 <= target) df.repartition(target) else df
    }
  }

  /** Salted equi-join: the left (skewed) side gets a deterministic salt in
    * [0, salts); the right side is replicated across all salt values, so a
    * hot key's rows land on `salts` tasks instead of one. Result set is
    * identical to the unsalted join. */
  def saltedJoin(
      left: DataFrame, right: DataFrame, key: String,
      leftSaltSource: Column, salts: Int): DataFrame = {
    val l = left.withColumn("__salt", pmod(leftSaltSource, lit(salts)))
    val r = right.withColumn("__salt", explode(sequence(lit(0), lit(salts - 1))))
    l.join(r, Seq(key, "__salt")).drop("__salt")
  }
}
