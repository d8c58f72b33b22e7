package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.DecimalType

/** The reference's incremental pattern is "drop-directory batch": new
  * files appear daily, a job consumes whatever is present
  * (/root/reference/src/parse.ts:39-54, SURVEY §2.10). Structured
  * Streaming expresses that exactly: file source → the identical batch
  * transform → sink, `Trigger.AvailableNow` (process everything
  * present, then stop — restartable and exactly-once with a real
  * checkpoint+sink pair).
  */
object DropDir {

  /** The shared event-time transform: tumbling 1-hour window per
    * event_type — same logic as the batch `str_window_agg` query. */
  def windowAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(10, 4))).cast("double").as("total"))
      .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm").as("window_start"),
        col("event_type"), col("n"), col("total"))

  /** Run the drop-dir pipeline over every file currently in `srcDir`,
    * synchronously, into an in-memory table; returns the result frame.
    * (Production: parquet/kafka sink + durable checkpointLocation; the
    * memory sink keeps the harness hermetic.) */
  def runAvailableNow(spark: SparkSession, srcDir: String,
      queryName: String = "dropdir_out"): DataFrame = {
    // recursiveFileLookup mirrors the reference's nested drop-dir intent
    // (getDDFiles recursion, /root/reference/src/parse.ts:44-48): files
    // landing in subdirectories are picked up too (spec-pinned); the
    // stream's schema is that of the first events file found
    val first = {
      val w = java.nio.file.Files.walk(java.nio.file.Paths.get(srcDir))
      try w.filter(_.getFileName.toString == "events.parquet").findFirst()
        .orElseThrow(() => new IllegalArgumentException(
          s"no events.parquet under drop dir $srcDir"))
      finally w.close()
    }
    val raw = spark.readStream
      .schema(graft.Tables.schema(spark, first.getParent.toString, "events"))
      .option("pathGlobFilter", "events.parquet")
      .option("recursiveFileLookup", "true")
      .parquet(srcDir)
    // same schema-dispatched ts normalization as Tables.events
    val events = graft.Tables.normalizeTs(raw)
    Feeds.drain(spark, windowAgg(events).writeStream
      .format("memory").outputMode("complete"), queryName,
      Feeds.sourceBytes(srcDir, "events.parquet"))
    spark.table(queryName)
  }
}
