package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Streaming twin of the daily sample-ratio-mismatch trace
  * (`evt_srm_trace`) — the guardrail that must run LIVE: by the time a
  * batch backfill notices a broken arm split, a day of the experiment
  * is already unsalvageable.
  *
  * Unlike the other feeds (custom `GroupState` operators), this one
  * exercises Spark's NATIVE streaming surface end-to-end:
  * `dropDuplicatesWithinWatermark(user, day)` dedups each user's daily
  * presence with bounded state, then a tumbling 1-day `window()`
  * aggregate in Append mode emits each day exactly once when the
  * watermark closes it. Arm counts are exact longs; the chi-square and
  * its 3.841 gate are computed OUTSIDE the stream (a deterministic
  * function of the emitted counts), so the streamed state is integers
  * only.
  *
  * Day-closure contract shared with the other day-keyed feeds: final
  * watermark = max event time floored to ms (delay 0), a day's window
  * is emitted iff its END is at-or-before that watermark.
  */
object StreamSrm {

  /** Closed-day (day, n_a, n_b) arm splits over the events drop-dir. */
  def runAvailableNow(spark: SparkSession, srcDir: String,
      queryName: String = "streamsrm_out"): DataFrame = {
    val deduped = Feeds.source(spark, srcDir, "events")
      .transform(graft.Tables.normalizeTs)
      .select(col("user_id"), col("ts"), to_date(col("ts")).as("day"))
      .withWatermark("ts", "0 seconds")
      .dropDuplicatesWithinWatermark("user_id", "day")
    val q = Feeds.drain(spark, deduped
      .groupBy(window(col("ts"), "1 day").as("w"))
      .agg(sum(when(col("user_id") % 2 === 0, 1).otherwise(0))
        .cast("long").as("n_a"),
        sum(when(col("user_id") % 2 === 1, 1).otherwise(0))
          .cast("long").as("n_b"))
      .select(to_date(col("w.start")).as("day"), col("n_a"), col("n_b"))
      .writeStream.format("memory").outputMode("append"), queryName,
      Feeds.sourceBytes(srcDir, "events.parquet"))
    // The 0-second delay keeps the day-closure contract (every day up
    // to max event time is emitted), but it makes the DEDUP guarantee
    // single-batch-only: a (user_id, day) repeated in a LATER
    // micro-batch would find its dedup state already evicted (the
    // watermark passed the event time at the previous batch boundary)
    // while the day's window is still open, and count twice. The
    // drop-dir is one parquet file today, so AvailableNow delivers one
    // data batch — but that's an input-layout accident, not a law, so
    // refuse loudly if it ever stops holding rather than silently
    // inflating arm counts (SRM would read as FALSE mismatch).
    val dataBatches = q.recentProgress.count(_.numInputRows > 0)
    require(dataBatches <= 1,
      s"StreamSrm: ${dataBatches} data micro-batches — the 0-second " +
        "dedup watermark only guarantees exactly-once counting within " +
        "one batch; widen the dedup horizon (e.g. withWatermark '1 day' " +
        "on the dedup stream) before splitting the drop-dir")
    spark.table(queryName)
  }
}
