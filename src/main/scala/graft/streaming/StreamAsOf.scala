package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

/** Streaming as-of enrichment — the live twin of the batch
  * [[graft.operators.Temporal.asOf]] operator: a stream of EVENTS
  * enriched with the latest value of a streamed DIMENSION UPDATE
  * at-or-before each event's time, per key ("what was the price when
  * this order arrived", "which model version served this request").
  *
  * Correctness under disorder: within and across micro-batches, events
  * and updates arrive in any order, but an event may only be emitted
  * once NO on-time update before it can still arrive — i.e. once the
  * watermark passes the event's timestamp. So both buffers live in
  * `GroupState` and emission is driven by the watermark (data batches
  * and event-time timeouts share one code path): each invocation emits
  * the buffered events at-or-before the current watermark, enriched
  * from the buffered updates.
  *
  * State stays BOUNDED: emitted events leave the buffer immediately,
  * and updates at-or-before the watermark are pruned down to the single
  * latest one (it remains the "current value" for future events; its
  * older siblings can never win an as-of race again). Per key the state
  * is O(events within watermark delay + updates within delay + 1).
  *
  * Operational note: the global watermark is the MIN across the two
  * watermarked inputs (Spark's multipleWatermarkPolicy default) — a
  * SILENT update stream holds emission back indefinitely, which is the
  * safe reading of "no update data" (an update before the event might
  * still arrive). Production dimension feeds should carry heartbeats if
  * they can go quiet; the spec pins the held-back behavior.
  *
  * Same precondition as the batch operator: updates unique per
  * (key, ts). Violations no longer depend on arrival order: equal-ts
  * updates resolve DETERMINISTICALLY to the max value (updates sort by
  * (ts, value) — a tie-break the batch operator does NOT define: batch
  * duplicates stay a data bug, guarded by assertUniqueRight), and
  * `assertUniqueUpdates = true` — the streaming twin of batch asOf's
  * `assertUniqueRight` — raises instead, naming the offending
  * (key, ts). The check sees the buffered updates of each batch; an
  * equal-ts duplicate arriving after its sibling was watermark-pruned
  * would be watermark-late and is dropped by Spark before the state
  * function runs, so it can't silently win either.
  * A LATE row (ts already behind the watermark, either side) is
  * DROPPED before the state function runs — Spark's
  * FlatMapGroupsWithStateExec filters watermark-late input under
  * EventTimeTimeout — so a late update can neither rewrite emitted
  * rows nor become the current value; the spec pins the no-rewrite
  * half (the drop is Spark's own, verified contract).
  */
object StreamAsOf {

  /** Tagged union row: `isEvent` events carry `event_id`; updates carry
    * `value`. `us` is event time in microseconds; `ts` is the SAME
    * instant as a timestamp — the watermark column, which must survive
    * into the stateful operator's input or EventTimeTimeout is
    * rejected at analysis. */
  final case class Tagged(key: Long, us: Long, isEvent: Boolean,
      event_id: Long, value: Double, ts: java.sql.Timestamp)

  final case class AsOfOut(key: Long, event_id: Long, ts_us: Long,
      asof_us: Option[Long], asof_value: Option[Double])

  /** (eventsBuf: (us, event_id), updatesBuf: (us, value)) */
  final case class ASt(events: List[(Long, Long)], updates: List[(Long, Double)])
  private lazy val stateEnc = Feeds.encoder[ASt]
  private lazy val outEnc = Feeds.encoder[AsOfOut]

  /** Enrich `events` (key, ts, event_id) with the latest `updates`
    * (key, ts, value) row at-or-before each event, per key.
    * `delay` is the allowed lateness of BOTH inputs (the union's
    * watermark is the min of the two sides); it also delays emission by
    * the same amount. */
  def enrich(spark: SparkSession, events: DataFrame, updates: DataFrame,
      delay: String = "30 minutes",
      assertUniqueUpdates: Boolean = false): Dataset[AsOfOut] = {
    import spark.implicits._
    val e = events
      .withWatermark("ts", delay)
      .select(col("user_id").as("key"), col("ts"),
        unix_micros(col("ts")).as("us"), lit(true).as("isEvent"),
        col("event_id"), lit(0.0).as("value"))
    val u = updates
      .withWatermark("ts", delay)
      .select(col("user_id").as("key"), col("ts"),
        unix_micros(col("ts")).as("us"), lit(false).as("isEvent"),
        lit(0L).as("event_id"), col("value"))
    e.unionByName(u)
      .select("key", "us", "isEvent", "event_id", "value", "ts").as[Tagged]
      .groupByKey(_.key)
      .flatMapGroupsWithState[ASt, AsOfOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key: Long, it: Iterator[Tagged], state: GroupState[ASt]) =>
          var st = state.getOption.getOrElse(ASt(Nil, Nil))
          it.foreach { t =>
            st =
              if (t.isEvent) st.copy(events = (t.us, t.event_id) :: st.events)
              else st.copy(updates = (t.us, t.value) :: st.updates)
          }
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          val (ripe, pending) = st.events.partition(_._1 <= wmUs)
          // sort by (ts, value) — equal-ts updates resolve to the MAX
          // value deterministically (lastOption below), never by
          // arrival order; see the uniqueness paragraph in the scaladoc
          val sortedUps = st.updates.sortBy(identity)
          if (assertUniqueUpdates)
            sortedUps.lazyZip(sortedUps.drop(1)).foreach { (a, b) =>
              if (a._1 == b._1) throw new IllegalStateException(
                s"as-of updates not unique per (key, ts): key=$key " +
                  s"ts_us=${a._1} values=${a._2} and ${b._2} — " +
                  "deduplicate the update stream or drop " +
                  "assertUniqueUpdates to take the max value")
            }
          val out = ripe.sortBy(identity).map { case (us, id) =>
            val m = sortedUps.takeWhile(_._1 <= us).lastOption
            AsOfOut(key, id, us, m.map(_._1), m.map(_._2))
          }
          // prune: of the updates the watermark has passed, only the
          // LATEST can still matter (as the running current value)
          val (past, fresh) = sortedUps.partition(_._1 <= wmUs)
          val kept = past.lastOption.toList ::: fresh
          if (pending.isEmpty && kept.isEmpty) state.remove()
          else {
            state.update(ASt(pending, kept))
            // wake when the watermark passes the oldest pending event
            // (+1 ms: the µs→ms floor must stay strictly ahead of the
            // current watermark or Spark rejects the timestamp)
            if (pending.nonEmpty)
              state.setTimeoutTimestamp(pending.map(_._1).min / 1000L + 1L)
          }
          out.iterator
      }(stateEnc, outEnc)
  }

  /** Drive the enrichment over the events parquet in `srcDir`: clicks
    * enriched with the latest purchase value at-or-before each click,
    * AvailableNow into a memory sink. The data batch buffers everything
    * (watermark still at its pre-batch value); the trailing no-data
    * micro-batch advances the watermark and flushes every event it
    * passes — with `delay` = 0 that is all of them, which is what makes
    * the batch-equivalence spec exact. */
  def runAvailableNow(spark: SparkSession, srcDir: String,
      queryName: String = "streamasof_out"): DataFrame = {
    def side(eventType: String): DataFrame =
      Feeds.source(spark, srcDir, "events")
        .transform(graft.Tables.normalizeTs)
        .filter(col("event_type") === eventType)
        .select("user_id", "event_id", "ts", "value")
    Feeds.drain(spark, enrich(spark, side("click"), side("purchase"), "0 seconds")
      .writeStream.format("memory").outputMode("append"), queryName,
      Feeds.sourceBytes(srcDir, "events.parquet"))
    spark.table(queryName)
  }
}
