package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Streaming exactly-once event dedup — the streaming twin of the batch
  * `dedup_exact` operator for at-least-once sources (kafka redeliveries,
  * replayed files): duplicate event ids arriving within the watermark
  * horizon collapse to one row, and the id state is EVICTED once the
  * watermark passes it, so state stays bounded by the horizon's event
  * rate instead of growing with the full stream history. A plain
  * `dropDuplicates` on a stream keeps every id forever — the unbounded
  * shape this operator exists to avoid.
  */
object StreamDedup {

  /** First occurrence per event_id within a 1-hour event-time horizon. */
  def dedup(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark(Seq("event_id"))

  /** Drive the dedup over an at-least-once DOUBLE DELIVERY of the
    * events parquet in `srcDir`: two independent file-stream sources
    * over the same file, unioned — every event id arrives (at least)
    * twice, exactly the kafka-redelivery shape — AvailableNow into a
    * memory sink. Whichever copy a duplicate lands in (same batch,
    * later batch inside the horizon, or watermark-late), it is emitted
    * exactly once: in-horizon duplicates collapse against the id
    * state, late ones are dropped before the operator. Production:
    * kafka source + durable checkpoint; the harness stays hermetic. */
  def runAvailableNow(spark: SparkSession, srcDir: String,
      queryName: String = "streamdedup_out"): DataFrame = {
    def delivery(): DataFrame =
      Feeds.source(spark, srcDir, "events")
        .transform(graft.Tables.normalizeTs)
        .select("user_id", "event_id", "ts", "value", "event_type")
    // double delivery: the stream ingests the source twice, so the
    // adaptive sizing sees 2x the file bytes
    Feeds.drain(spark, dedup(delivery().unionByName(delivery())).writeStream
      .format("memory").outputMode("append"), queryName,
      2 * Feeds.sourceBytes(srcDir, "events.parquet"))
    spark.table(queryName)
  }
}
