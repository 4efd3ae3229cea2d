package graft

import graft.operators.Skew
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SkewSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("salted sum equals direct groupBy sum") {
    val ev = Tables(spark, TestSpark.sfDir, "events")
    val direct = ev.groupBy(col("user_id"))
      .agg(sum(col("value").cast("decimal(18,6)")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getDecimal(1)).toMap
    val salted = Skew.saltedSum(ev, col("user_id"),
        col("value").cast("decimal(18,6)"), pmod(col("event_id"), lit(8)))
      .collect().map(r => r.getLong(0) -> r.getDecimal(1)).toMap
    assert(salted === direct)
  }

  test("salted join result set equals plain join") {
    val ev = Tables(spark, TestSpark.sfDir, "events").select("event_id", "user_id", "value")
    val dim = Tables(spark, TestSpark.sfDir, "customer")
      .select(col("c_custkey").as("user_id"), col("c_name"))
    val plain = ev.join(dim, "user_id")
      .select("event_id", "c_name").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val salted = Skew.saltedJoin(ev, dim, "user_id", col("event_id"), salts = 4)
      .select("event_id", "c_name").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(salted === plain)
  }

  test("fanOutNarrow launches no job for a frame that already shuffles, and returns it as is") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val started = new java.util.concurrent.atomic.AtomicInteger(0)
    val marker = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.job.description") == "marker"))
          marker.countDown()
        else started.incrementAndGet()
    }
    val agg = spark.range(0, 1000, 1, 4).groupBy((col("id") % 7).as("k")).count()
    sc.addSparkListener(listener)
    val out = try {
      val out = Skew.fanOutNarrow(agg)
      // listener events arrive in job order: once the marker job's start
      // is seen, every job fanOutNarrow launched has been counted
      sc.setJobDescription("marker")
      spark.range(1).count()
      assert(marker.await(60, java.util.concurrent.TimeUnit.SECONDS))
      out
    } finally {
      sc.setJobDescription(null)
      sc.removeSparkListener(listener)
    }
    assert(started.get === 0, "fanOutNarrow ran the frame's upstream shuffle")
    assert(out eq agg)
    // a one-partition scan still fans out
    assert(Skew.fanOutNarrow(spark.range(0, 1000, 1, 1).toDF()).rdd.getNumPartitions > 1)
  }
}

class StatefulSessionsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("flatMapGroupsWithState emits sessions closed across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Long)]
    val q = graft.streaming.StatefulSessions
      .sessionize(input.toDS(), gapUs = 1800L * 1000000L)
      .writeStream.format("memory").queryName("sessions_out")
      .outputMode("append").start()
    try {
      // batch 1: two events 10s apart -> one open session, nothing emitted
      input.addData((1L, 0L), (1L, 10L * 1000000L))
      q.processAllAvailable()
      assert(spark.table("sessions_out").count() === 0)
      // batch 2: an event 2000s later closes it -> session (n=2) emitted
      input.addData((1L, 2010L * 1000000L))
      q.processAllAvailable()
      val rows = spark.table("sessions_out").as[graft.operators.Sessionize.SessionRow].collect()
      assert(rows.toSeq === Seq(
        graft.operators.Sessionize.SessionRow(1L, 1L, 2L, 0L, 10L * 1000)))
    } finally {
      q.stop()
      spark.catalog.dropTempView("sessions_out")
    }
  }
}
