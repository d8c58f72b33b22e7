package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

/** Streaming twin of the batch `cdc_apply` query: a live CDC OUTPUT
  * stream. Each arriving event is an upsert ('error' plays the delete,
  * the cdc_apply role-cast); the operator keeps each key's CURRENT
  * version and emits a changelog row exactly when a key's current
  * version CHANGES — the change-data-feed a downstream MERGE consumer
  * (snk_merge) applies. Batch folds the whole log in one window;
  * the stream folds it key-by-key as it arrives — same order, same
  * winner, so replaying the emitted changelog (latest emission per
  * key, deletes dropped) reproduces the batch snapshot bit-for-bit
  * (StreamCdcSpec).
  *
  * Versions are ordered by the full serialized tuple
  * (us, event_id, event_type, value) — cdc_apply's tie-break rule 8 —
  * so a late-arriving OLDER event never regresses a key (it loses the
  * tuple comparison and emits nothing). That makes the emitted
  * sequence per key monotone in the version order, which is what lets
  * the spec fold emissions with a plain argmax: no watermark is needed
  * for correctness, only for state EVICTION — and CDC state is
  * deliberately unevictable (the current value of a live key never
  * expires; the StreamFreq "state honesty" contract: O(keys) total,
  * keyed by user, sharded across executors).
  *
  * Emission arithmetic is exact: longs and the raw double payload are
  * carried, never recomputed, so closed-fold rows compare EQUAL to
  * batch rows.
  */
object StreamCdc {

  final case class Ev(user_id: Long, event_id: Long, us: Long,
      event_type: String, value: Double)
  final case class Change(user_id: Long, op: String, state: String,
      value: Double, updated_us: Long, event_id: Long)
  final case class Cur(us: Long, event_id: Long, event_type: String,
      value: Double)

  /** cdc_apply's version order: lexicographic on
    * (us, event_id, event_type, value), later wins. */
  private def beats(a: Cur, b: Cur): Boolean =
    Ordering.Tuple4[Long, Long, String, Double]
      .gt((a.us, a.event_id, a.event_type, a.value),
        (b.us, b.event_id, b.event_type, b.value))

  /** Changelog stream over a (streaming) events frame with columns
    * (user_id, event_id, ts, event_type, value). */
  def changes(spark: SparkSession, events: DataFrame): Dataset[Change] = {
    import spark.implicits._
    events
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("us"), col("event_type"), col("value"))
      .as[Ev]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[Cur, Change](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[Ev], state: GroupState[Cur]) =>
          // fold this batch's events into the stored current version;
          // emit one changelog row per ACTUAL change of the winner
          // (intermediate winners within a batch collapse — the batch
          // is one fold step, exactly like cdc_apply's single window)
          val start = state.getOption
          var cur = start
          it.foreach { e =>
            val cand = Cur(e.us, e.event_id, e.event_type, e.value)
            if (cur.forall(c => beats(cand, c))) cur = Some(cand)
          }
          cur match {
            case Some(c) if start.forall(s => beats(c, s)) =>
              state.update(c)
              val op = if (c.event_type == "error") "D" else "U"
              Iterator.single(
                Change(uid, op, c.event_type, c.value, c.us, c.event_id))
            case _ => Iterator.empty
          }
      }
  }

  /** Drive the changelog over the events parquet in `srcDir`,
    * AvailableNow into a memory sink. */
  def runAvailableNow(spark: SparkSession, srcDir: String,
      queryName: String = "streamcdc_out"): DataFrame = {
    val raw = graft.Tables.normalizeTs(Feeds.source(spark, srcDir, "events"))
      .select("user_id", "event_id", "ts", "event_type", "value")
    Feeds.drain(spark, changes(spark, raw)
      .writeStream.format("memory").outputMode("append"), queryName,
      Feeds.sourceBytes(srcDir, "events.parquet"))
    spark.table(queryName)
  }
}
