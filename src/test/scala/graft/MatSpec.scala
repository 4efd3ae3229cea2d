package graft

import graft.operators.Mat
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[Mat.stageAllIfExpensive]]'s failure path: the first failing frame's
  * own exception reaches the caller, and the sibling stagings stop. */
class MatSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("stageAllIfExpensive rethrows the failing frame's exception and stops its siblings") {
    val boom = udf { (x: Long) =>
      if (x >= 0) throw new IllegalStateException(s"boom $x") else x
    }
    val slow = udf { (x: Long) => Thread.sleep(1000); x }
    val bad = spark.range(0, 8, 1, 1).select(boom(col("id")).as("k")).groupBy("k").count()
    // 2 tasks x 15 rows x 1 s behind a shuffle, whose reader honours a
    // task kill between rows
    val sibling = spark.range(0, 30, 1, 2).repartition(2)
      .select(slow(col("id")).as("k")).groupBy("k").count()
    assert(Mat.isExpensive(bad) && Mat.isExpensive(sibling))

    val serial = intercept[Exception](Mat.stageIfExpensive(bad))
    val t0 = System.nanoTime()
    val concurrent = intercept[Exception](Mat.stageAllIfExpensive(Seq(sibling, bad)))
    val elapsedS = (System.nanoTime() - t0) / 1e9
    assert(!concurrent.isInstanceOf[java.util.concurrent.ExecutionException])
    assert(concurrent.getClass === serial.getClass, concurrent.toString)
    // the failure surfaces without waiting for the 15 s sibling...
    assert(elapsedS < 10, s"failure surfaced after $elapsedS s")
    // ...whose Spark job is cancelled rather than left running
    val tracker = spark.sparkContext.statusTracker
    val deadline = System.nanoTime() + 8000000000L
    while (tracker.getActiveJobIds().nonEmpty && System.nanoTime() < deadline)
      Thread.sleep(100)
    assert(tracker.getActiveJobIds().isEmpty, "a sibling staging job is still running")
  }

  test("stageAllIfExpensive returns what per-frame staging returns") {
    val frames = Seq(
      spark.range(20).groupBy((col("id") % 3).as("k")).count(),
      spark.range(10).select(col("id")), // cheap: passed through unstaged
      spark.range(30).groupBy((col("id") % 5).as("k")).count())
    val staged = Mat.stageAllIfExpensive(frames)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).sorted.toSeq
    assert(staged.map(rows) === frames.map(rows))
    assert(staged(1) eq frames(1))
  }
}
