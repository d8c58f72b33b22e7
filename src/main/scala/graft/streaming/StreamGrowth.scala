package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

/** Streaming twin of the batch `evt_cum_users` query: the user growth
  * curve (per-day actives, FIRST-seen users, cumulative base) emitted
  * live as days close under the watermark — the acquisition dashboard
  * at day rollover instead of in tomorrow's batch job.
  *
  * Exactness over estimation is the point here (contrast [[StreamWau]],
  * the sketch twin): new-user attribution compares each closing day's
  * active set against the users seen on every EARLIER closed day, so
  * closed-day rows are BIT-EQUAL to batch `evt_cum_users`
  * (StreamGrowthSpec pins it). Days close in watermark order, so the
  * ascending replay of `closed` reproduces the batch MIN(day)
  * attribution exactly; the one asymmetry is the watermark contract
  * itself — an event for a day that already closed would retroactively
  * re-attribute in batch, and is excluded from the stream by
  * construction (the same class as StreamWau's documented asymmetry).
  *
  * State honesty: exact cumulative distinct NEEDS the seen-user set —
  * this demo keys ONE group holding it, so state is O(total users)
  * (the fixture's few hundred). At 100 TB the same contract shards:
  * key the state BY USER (per-user first-seen day, O(1) each,
  * distributed), emit each user's first day once its day closes, and
  * run the tiny days-dimension aggregation downstream — or drop to
  * the KMV ring ([[StreamWau]]) when an estimate is acceptable. The
  * one-group form is the demo shape because it makes the bit-equality
  * spec a direct set comparison, not a multi-stage pipeline.
  */
object StreamGrowth {

  final case class Ev(user_id: Long, us: Long, ts: java.sql.Timestamp)
  final case class Growth(day: String, dau: Long, new_users: Long,
      cum_users: Long)
  /** open: dayEpoch → distinct users active that day; seen: users on
    * closed days; cum: |seen| maintained incrementally. */
  final case class St(open: Map[Long, Set[Long]], seen: Set[Long], cum: Long)
  private lazy val stateEnc = Feeds.encoder[St]
  private lazy val outEnc = Feeds.encoder[Growth]

  private val DayUs = 86400000000L

  /** Growth rows over a (streaming) events frame with columns
    * (user_id, ts); `delay` is the allowed event lateness. */
  def curve(spark: SparkSession, events: DataFrame,
      delay: String = "1 hour"): Dataset[Growth] = {
    import spark.implicits._
    events
      .withWatermark("ts", delay)
      .select(col("user_id"), unix_micros(col("ts")).as("us"), col("ts"))
      .as[Ev]
      .groupByKey(_ => 0)
      .flatMapGroupsWithState[St, Growth](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_: Int, it: Iterator[Ev], state: GroupState[St]) =>
          var st = state.getOption.getOrElse(St(Map.empty, Set.empty, 0L))
          it.foreach { e =>
            val d = Math.floorDiv(e.us, DayUs)
            st = st.copy(open = st.open.updated(d,
              st.open.getOrElse(d, Set.empty) + e.user_id))
          }
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          val (closed, open) =
            st.open.partition { case (d, _) => (d + 1) * DayUs <= wmUs }
          var seen = st.seen
          var cum = st.cum
          val out = closed.toSeq.sortBy(_._1).map { case (d, users) =>
            val fresh = users.diff(seen)
            seen = seen ++ fresh
            cum += fresh.size
            Growth(java.time.LocalDate.ofEpochDay(d).toString,
              users.size.toLong, fresh.size.toLong, cum)
          }
          state.update(St(open, seen, cum))
          if (open.nonEmpty) {
            val wake = (open.keys.min + 1) * 86400000L + 1L
            state.setTimeoutTimestamp(
              math.max(wake, state.getCurrentWatermarkMs() + 1L))
          }
          out.iterator
      }(stateEnc, outEnc)
  }

  /** Drive the curve over the events parquet in `srcDir`, AvailableNow
    * into a memory sink; `delay` = 0 closes every day behind the final
    * watermark (what makes the batch-equivalence spec exact). */
  def runAvailableNow(spark: SparkSession, srcDir: String,
      queryName: String = "streamgrowth_out"): DataFrame = {
    val raw = Feeds.source(spark, srcDir, "events")
      .transform(graft.Tables.normalizeTs)
      .select("user_id", "ts")
    Feeds.drain(spark, curve(spark, raw, "0 seconds")
      .writeStream.format("memory").outputMode("append"), queryName,
      Feeds.sourceBytes(srcDir, "events.parquet"))
    spark.table(queryName)
  }
}
