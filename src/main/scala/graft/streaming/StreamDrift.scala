package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

/** Streaming twin of the batch `evt_drift_daily` query: per closed day,
  * the exact ppm share-shift of every observed category against a
  * FROZEN reference distribution — the live data-drift dashboard next
  * to the batch backfill, same integer ledger on both sides.
  *
  * State shape is the sharded contract StreamGrowth's comment promises:
  * groups key by DAY, each holding one `Map[category, count]` — O(vocab)
  * per open day, nothing global, so a thousand executors hold a
  * thousand slivers of open-day state and a closing day emits from
  * exactly one group. The reference itself is an INPUT (a tiny frozen
  * map, broadcast by value into the state function), not state: a
  * monitor that recomputes its own baseline while monitoring would
  * drift with the drift.
  *
  * Emission arithmetic is bit-identical to the batch query — counts are
  * exact longs, the shift is the cross-multiplied
  * |n·refTot − refN·dayTot| · 10⁶ // (refTot · dayTot), and categories
  * absent from the reference stay in the output with refN = 0 —
  * so closed-day rows compare EQUAL to batch rows (StreamDriftSpec),
  * the StreamAnomaly/StreamGrowth twin discipline. The one asymmetry is
  * the watermark contract itself: an event later than the allowed delay
  * would retroactively change a closed day's counts in batch and is
  * excluded from the stream by construction.
  */
object StreamDrift {

  final case class Ev(event_type: String, us: Long,
      ts: java.sql.Timestamp)
  final case class Drift(day: Long, event_type: String, n: Long,
      day_total: Long, shift_ppm: Long)
  final case class St(counts: Map[String, Long])
  private lazy val stateEnc = Feeds.encoder[St]
  private lazy val outEnc = Feeds.encoder[Drift]

  private val DayUs = 86400000000L

  /** Drift rows over a (streaming) events frame with columns
    * (event_type, ts); `reference` is the frozen category → count
    * baseline; `delay` is the allowed event lateness. */
  def monitor(spark: SparkSession, events: DataFrame,
      reference: Map[String, Long],
      delay: String = "1 hour"): Dataset[Drift] = {
    import spark.implicits._
    require(reference.nonEmpty && reference.values.forall(_ > 0),
      "StreamDrift: reference distribution must be non-empty and positive")
    val refTot = reference.values.sum
    events
      .withWatermark("ts", delay)
      .select(col("event_type"), unix_micros(col("ts")).as("us"), col("ts"))
      .as[Ev]
      .groupByKey(e => Math.floorDiv(e.us, DayUs))
      .flatMapGroupsWithState[St, Drift](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (day: Long, it: Iterator[Ev], state: GroupState[St]) =>
          var m = state.getOption.map(_.counts).getOrElse(Map.empty)
          it.foreach { e =>
            m = m.updated(e.event_type, m.getOrElse(e.event_type, 0L) + 1L)
          }
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          if ((day + 1) * DayUs <= wmUs) {
            // day closed under the watermark: emit its ledger, drop the
            // group — state never outlives the day it describes
            val tot = m.values.sum
            val out = m.toSeq.sortBy(_._1).map { case (t, n) =>
              val refN = reference.getOrElse(t, 0L)
              Drift(day, t, n, tot,
                math.abs(n * refTot - refN * tot) * 1000000L /
                  (refTot * tot))
            }
            state.remove()
            out.iterator
          } else {
            state.update(St(m))
            // wake when the watermark should have passed the day close
            val wake = (day + 1) * 86400000L + 1L
            state.setTimeoutTimestamp(
              math.max(wake, state.getCurrentWatermarkMs() + 1L))
            Iterator.empty
          }
      }(stateEnc, outEnc)
  }

  /** Drive the monitor over the events parquet in `srcDir` with the
    * reference computed from the first 15 days (the evt_drift_daily
    * convention), AvailableNow into a memory sink. */
  def runAvailableNow(spark: SparkSession, srcDir: String,
      queryName: String = "streamdrift_out"): DataFrame = {
    val reference = graft.Tables.events(spark, srcDir)
      .select(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("day"))
      .filter(col("day") < 19738)
      .groupBy("event_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val raw = graft.Tables.normalizeTs(Feeds.source(spark, srcDir, "events"))
      .select("event_type", "ts")
    Feeds.drain(spark, monitor(spark, raw, reference, "0 seconds")
      .writeStream.format("memory").outputMode("append"), queryName,
      Feeds.sourceBytes(srcDir, "events.parquet"))
    spark.table(queryName)
  }
}
