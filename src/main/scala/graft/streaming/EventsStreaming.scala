package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Structured Streaming over the events table.
  *
  * The reference has no streaming surface; its closest trait is restartable
  * incremental index building (skip-if-output-exists, `clip.ipynb` cell 7,
  * `ocr.ipynb` cell 6) — which maps exactly to a file-source streaming query
  * with `Trigger.AvailableNow`: process everything new, then stop; state
  * (which files were seen) lives in the checkpoint, replacing the ad-hoc
  * "does the output exist" logic.
  *
  * Scale notes: tumbling-window counts shuffle on (window, type) with
  * map-side partial aggregation; with a watermark the state store evicts
  * closed windows, so state is bounded by (windows in watermark horizon x
  * types) regardless of input volume.
  */
object EventsStreaming {

  /** Tumbling 1-hour windowed counts per event type, executed as a real
    * streaming query (file source -> AvailableNow -> memory sink) and
    * returned as the final result table. Deterministic: event-time windows,
    * complete output mode. */
  def windowedCounts(spark: SparkSession, dir: String): DataFrame = {
    val s = ScratchCheckpoints.stateSession(spark, 8)
    val path = s"$dir/events.parquet"
    val schema = s.read.parquet(path).schema
    // the file stream source only accepts directories: stage the table file
    // into a scratch dir (stands in for the landing directory that a real
    // incremental pipeline would watch)
    val stage = Staging.stageTable(path, "graft_stream_src")
    val src = graft.Tables.normalizeTs(
      s.readStream.schema(schema).parquet(stage.toString))
    val agg = src
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,6)")).as("value_sum"))
    val name = s"graft_stream_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    agg.writeStream
      .format("memory").queryName(name)
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()
    val out = s.table(name)
      .select(unix_millis(col("window.start")).as("window_ms"),
        col("event_type"), col("n"),
        col("value_sum").cast("double").as("value_sum"))
    // materialize before dropping the memory sink table
    val rows = out.orderBy(col("window_ms"), col("event_type"))
    rows.cache().count()
    s.catalog.dropTempView(name)
    rows
  }

  /** Streaming STATEFUL DEDUP: first-seen (user_id, event_type) keys across
    * micro-batches via `dropDuplicates` — the state-store-backed exact-dedup
    * primitive a streaming ingest pipeline runs in front of index builds.
    * Only the key columns are emitted, so the result is order-independent
    * and equals batch DISTINCT (the oracle). State holds one entry per
    * distinct key; with a watermark on an event-time column it would evict —
    * unbounded keys are the knob to watch at scale. */
  def streamingDedup(spark: SparkSession, dir: String): DataFrame = {
    val s = ScratchCheckpoints.stateSession(spark, 8)
    val path = s"$dir/events.parquet"
    val schema = s.read.parquet(path).schema
    val stage = Staging.stageTable(path, "graft_sdd_src")
    val deduped = s.readStream.schema(schema).parquet(stage.toString)
      .select(col("user_id"), col("event_type"))
      .dropDuplicates("user_id", "event_type")
    val name = s"graft_sdd_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    deduped.writeStream
      .format("memory").queryName(name)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()
    val rows = s.table(name).orderBy(col("user_id"), col("event_type"))
    rows.cache().count()
    s.catalog.dropTempView(name)
    rows
  }

  /** Watermarked STREAM-STREAM inner join: clicks joined to purchases of the
    * same user within the hour before the purchase — the online form of the
    * engine's temporal joins (J3/J4). Both sides carry 1-hour watermarks and
    * the join predicate time-bounds click vs purchase, so the state store
    * holds one watermark horizon per side regardless of stream length —
    * the unbounded-state hazard of naive stream joins is structurally
    * excluded. Executed as a real streaming query (file source ->
    * AvailableNow -> memory sink); with event-time bounds + AvailableNow
    * over a finite source the result equals the batch join, which is what
    * the oracle checks. */
  def clickPurchaseJoin(spark: SparkSession, dir: String): DataFrame = {
    val s = ScratchCheckpoints.stateSession(spark, 8)
    val path = s"$dir/events.parquet"
    val schema = s.read.parquet(path).schema
    val stage = Staging.stageTable(path, "graft_ssj_src")
    def side(tpe: String, idAs: String, tsAs: String) =
      graft.Tables.normalizeTs(
          s.readStream.schema(schema).parquet(stage.toString))
        .withColumn("__ts", col("ts"))
        .filter(col("event_type") === tpe)
        .select(col("user_id"), col("event_id").as(idAs), col("__ts").as(tsAs))
        .withWatermark(tsAs, "1 hour")
    val clicks = side("click", "click_id", "click_ts")
    val purchases = side("purchase", "purchase_id", "purchase_ts")
    val joined = clicks.join(purchases,
      clicks("user_id") === purchases("user_id") &&
        col("click_ts") >= col("purchase_ts") - expr("INTERVAL 1 HOUR") &&
        col("click_ts") <= col("purchase_ts"))
      .select(clicks("user_id"), col("click_id"), col("purchase_id"),
        unix_millis(col("click_ts")).as("click_ms"),
        unix_millis(col("purchase_ts")).as("purchase_ms"))
    val name = s"graft_ssj_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    joined.writeStream
      .format("memory").queryName(name)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()
    val rows = s.table(name)
      .orderBy(col("user_id"), col("click_id"), col("purchase_id"))
    rows.cache().count()
    s.catalog.dropTempView(name)
    rows
  }
}
