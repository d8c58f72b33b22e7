package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Stream-stream interval join — the streaming twin of the batch
  * `join_range` operator (operators/Temporal.pointInInterval): errors
  * arriving within one day after a click on the same user, joined as
  * two live streams.
  *
  * State stays BOUNDED because both sides carry watermarks and the join
  * condition carries an event-time range: Spark derives how long a
  * buffered click can still match (1 day + the error watermark) and
  * evicts state past it — the property that keeps a perpetual
  * stream-stream join from accumulating the full history. Without the
  * time bound in the ON clause the state store grows forever; that
  * shape is the streaming analog of the nested-loop join the batch
  * operator refuses to plan.
  */
object StreamJoin {

  /** Inner interval join of two watermarked event streams:
    * (user_id, click_id, error_id, error_us, lag_us) for every error in
    * [click, click + 1 day) — identical output contract to the batch
    * `join_range` query. */
  /** `joinType` "inner" (default) or "leftOuter": the outer form emits
    * a null-error row for a click ONLY once the watermark proves no
    * matching error can still arrive — the state-eviction moment, not
    * an eager null that a late error would contradict. */
  def clickErrorJoin(clicks: DataFrame, errors: DataFrame,
      joinType: String = "inner"): DataFrame = {
    val c = clicks
      .withWatermark("ts", "1 hour")
      .select(col("user_id"), col("event_id").as("click_id"),
        col("ts").as("c_ts"))
    val e = errors
      .withWatermark("ts", "25 hours")
      .select(col("user_id").as("e_user_id"),
        col("event_id").as("error_id"), col("ts").as("e_ts"))
    c.join(e,
      expr("""user_id = e_user_id AND
             |e_ts >= c_ts AND e_ts < c_ts + INTERVAL 1 DAY""".stripMargin),
      joinType)
      .select(col("user_id"), col("click_id"), col("error_id"),
        unix_micros(col("e_ts")).as("error_us"),
        (unix_micros(col("e_ts")) - unix_micros(col("c_ts"))).as("lag_us"))
  }

  /** Drive the join over the events parquet in `srcDir` as two file
    * streams (clicks and errors), AvailableNow into a memory sink;
    * returns the result frame. Production: kafka sources + a durable
    * checkpoint; the harness stays hermetic. */
  def runAvailableNow(spark: SparkSession, srcDir: String,
      queryName: String = "streamjoin_out"): DataFrame = {
    def side(eventType: String): DataFrame =
      Feeds.source(spark, srcDir, "events")
        .transform(graft.Tables.normalizeTs)
        .filter(col("event_type") === eventType)
        .select("user_id", "event_id", "ts")
    Feeds.drain(spark, clickErrorJoin(side("click"), side("error")).writeStream
      .format("memory").outputMode("append"), queryName,
      Feeds.sourceBytes(srcDir, "events.parquet"))
    spark.table(queryName)
  }
}
