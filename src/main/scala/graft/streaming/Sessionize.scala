package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.GroupState

/** Event-stream sessionization — the custom-state streaming operator
  * (`KeyValueGroupedDataset.flatMapGroupsWithState`, SURVEY §2.10
  * extension): events within `gapMinutes` of each other belong to one
  * session per user. The same `split` kernel backs the batch window-SQL
  * form (`win_sessionize` query) and the stateful streaming form, and
  * tests assert they agree.
  */
object Sessionize {

  final case class Ev(user_id: Long, tsMicros: Long, value: Double)
  final case class SessionOut(user_id: Long, start_us: Long, end_us: Long,
      n: Long, total: Double)

  private lazy val stateEnc = Feeds.encoder[List[Ev]]
  private lazy val outEnc = Feeds.encoder[SessionOut]

  /** Pure kernel: sorted events of ONE user → closed sessions. */
  def split(events: Seq[Ev], gapMicros: Long): Seq[SessionOut] = {
    if (events.isEmpty) return Nil
    val sorted = events.sortBy(_.tsMicros)
    val out = Seq.newBuilder[SessionOut]
    var start = sorted.head.tsMicros
    var last = start
    var n = 0L
    var total = 0.0
    sorted.foreach { e =>
      if (e.tsMicros - last > gapMicros) {
        out += SessionOut(e.user_id, start, last, n, total)
        start = e.tsMicros; n = 0L; total = 0.0
      }
      last = e.tsMicros; n += 1; total += e.value
    }
    out += SessionOut(sorted.head.user_id, start, last, n, total)
    out.result()
  }

  /** Stateful streaming/batch form. In a stream, open sessions live in
    * `GroupState` across micro-batches and close on the event-time gap;
    * in batch each group arrives complete, so the state path reduces to
    * the kernel. */
  def flatSessions(spark: SparkSession, events: Dataset[Ev],
      gapMinutes: Int): Dataset[SessionOut] = {
    import spark.implicits._
    val gapMicros = gapMinutes.toLong * 60 * 1000000
    events.groupByKey(_.user_id)
      .flatMapGroups { (_: Long, it: Iterator[Ev]) =>
        split(it.toSeq, gapMicros).iterator
      }
  }

  /** Drop-dir AvailableNow run of [[statefulSessions]] over the events
    * parquet — the driver-visible feed (`stream_sessionize_feed`).
    * Delay 0: the final watermark is the max event time (ms-floored),
    * and a user's OPEN TAIL session is emitted only when its timeout
    * `end_ms + gap` is STRICTLY below that watermark
    * (FlatMapGroupsWithStateExec times out on `timeoutTimestamp < wm`,
    * verified in the 4.1.2 bytecode) — every other session closes
    * in-stream when a later event of the same user arrives, so the
    * emitted set is batch-split-independent. `total` is deliberately
    * NOT exposed: the kernel's running Double sum is arrival-ordered
    * and a same-µs tie would make it engine-unorderable; the oracle
    * pins identity/extent/count, the exact-decimal total lives in the
    * batch twin. */
  def runAvailableNow(spark: SparkSession, srcDir: String,
      queryName: String = "sessionize_feed_out"): Dataset[SessionOut] = {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, unix_micros}
    import org.apache.spark.sql.streaming.Trigger
    val raw = Feeds.source(spark, srcDir, "events")
      .transform(graft.Tables.normalizeTs)
      .select(col("user_id"), unix_micros(col("ts")).as("tsMicros"),
        col("value"))
      .as[Ev]
    Feeds.drain(spark, statefulSessions(spark, raw, 30, "0 seconds")
      .writeStream.format("memory").outputMode("append"), queryName,
      Feeds.sourceBytes(srcDir, "events.parquet"))
    spark.table(queryName).as[SessionOut]
  }

  /** The streaming-native variant: carry the open tail of each user's
    * session in state between micro-batches, and close it via
    * EVENT-TIME TIMEOUT once the watermark passes `tail end + gap` —
    * without the timeout an idle user's last session would be withheld
    * forever and per-key state would grow without bound in a
    * long-running stream. `watermarkDelay` is the allowed lateness of
    * the input (it also delays tail emission by the same amount). */
  def statefulSessions(spark: SparkSession, events: Dataset[Ev],
      gapMinutes: Int,
      watermarkDelay: String = "10 minutes"): Dataset[SessionOut] = {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, timestamp_micros}
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val gapMicros = gapMinutes.toLong * 60 * 1000000
    val gapMs = gapMinutes.toLong * 60 * 1000
    events
      .withColumn("eventTime", timestamp_micros(col("tsMicros")))
      .withWatermark("eventTime", watermarkDelay)
      .as[Ev]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[List[Ev], SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout()) {
        (_: Long, it: Iterator[Ev], state: GroupState[List[Ev]]) =>
          if (state.hasTimedOut) {
            // the watermark passed tail-end + gap: no on-time event can
            // extend this session any more — emit it closed, free state
            val tail = state.getOption.getOrElse(Nil)
            state.remove()
            split(tail, gapMicros).iterator
          } else {
            val buffered = state.getOption.getOrElse(Nil) ++ it.toList
            if (buffered.isEmpty) Iterator.empty
            else {
              val sessions = split(buffered, gapMicros)
              // keep the open tail session in state, emit the closed ones
              val closed = sessions.dropRight(1)
              val tailStart = sessions.last.start_us
              state.update(buffered.filter(_.tsMicros >= tailStart))
              // a timeout at/behind the current watermark is illegal;
              // clamping only matters for already-expired tails, which
              // then fire on the next batch (batch mode: no watermark,
              // timeouts never fire — the kernel reduction still holds)
              val due = sessions.last.end_us / 1000 + gapMs
              val wm = scala.util.Try(state.getCurrentWatermarkMs())
                .getOrElse(Long.MinValue)
              state.setTimeoutTimestamp(math.max(due, wm + 1))
              closed.iterator
            }
          }
      }(stateEnc, outEnc)
  }
}
