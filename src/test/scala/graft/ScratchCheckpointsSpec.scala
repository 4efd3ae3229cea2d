package graft

import java.nio.file.Files
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import graft.streaming.{EventsStreaming, ScratchCheckpoints}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** Scratch-checkpoint settings live on a session clone: a throwaway
  * streaming query never changes the conf a concurrent durable query on
  * the caller's session starts from. */
class ScratchCheckpointsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val FmKey = "spark.sql.streaming.checkpointFileManagerClass"
  private val CkKey = "spark.sql.streaming.checkpoint.fileChecksum.enabled"

  test("newSession sets the scratch conf on a clone only") {
    val s = ScratchCheckpoints.newSession(spark)
    assert(s ne spark)
    assert(s.conf.get(FmKey) === "org.apache.spark.sql.graftshim.NioCheckpointFileManager")
    assert(s.conf.get(CkKey) === "false")
    assert(spark.conf.getOption(FmKey).isEmpty)
  }

  test("a durable query started during a scratch query keeps the default checkpoint manager") {
    // the scratch query runs in the background; once its first streaming
    // job has started, a durable query starts on the caller's session
    val scratchRunning = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("sql.streaming.queryId") != null))
          scratchRunning.countDown()
    }
    spark.sparkContext.addSparkListener(listener)
    implicit val ec: ExecutionContext = ExecutionContext.global
    val scratch = Future(EventsStreaming.clickPurchaseJoin(spark, TestSpark.sfDir).count())
    try {
      assert(scratchRunning.await(120, TimeUnit.SECONDS), "scratch query never ran a job")
      val src = Files.createTempDirectory("graft_durable_src")
      spark.range(5).write.mode("overwrite").parquet(src.toString)
      val ckpt = Files.createTempDirectory("graft_durable_ckpt").resolve("ckpt")
      val seen = new ConcurrentLinkedQueue[(Option[String], Option[String])]()
      spark.readStream.schema(spark.read.parquet(src.toString).schema).parquet(src.toString)
        .writeStream
        .option("checkpointLocation", ckpt.toString)
        .foreachBatch { (batch: DataFrame, _: Long) =>
          seen.add((batch.sparkSession.conf.getOption(FmKey),
            batch.sparkSession.conf.getOption(CkKey)))
          ()
        }
        .trigger(Trigger.AvailableNow())
        .start()
        .awaitTermination()
      assert(seen.asScala.toSeq.nonEmpty)
      // no manager override, checksums at their default (the stream pins
      // the checksum setting in its session, so it may read back "true")
      assert(seen.asScala.forall { case (fm, ck) => fm.isEmpty && !ck.contains("false") },
        seen.asScala.toSeq)
      // the default manager writes through Hadoop's checksummed local
      // filesystem: each offset-log entry has its .crc sibling
      val offsets = ckpt.resolve("offsets").toFile.listFiles().map(_.getName).toSet
      assert(offsets.contains("0") && offsets.contains(".0.crc"), offsets)
      assert(Await.result(scratch, 120.seconds) >= 0) // the scratch query succeeded
      assert(spark.conf.getOption(FmKey).isEmpty)
    } finally {
      Await.ready(scratch, 120.seconds)
      spark.sparkContext.removeSparkListener(listener)
    }
  }
}
