package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

import graft.functions.BottomK

/** Streaming twin of the batch `evt_wau_sketch` query: trailing-7-day
  * active users from one bounded KMV sketch per day, emitted live as
  * days CLOSE under the watermark — the engagement dashboard that
  * updates at day rollover instead of in tomorrow's batch job.
  *
  * State is the whole point: open-day sketches plus a ring of the last
  * ≤ 7 closed (day, sketch) pairs — O((7 + days-in-watermark) × k)
  * strings TOTAL, independent of user count and stream length. The
  * same KMV mergeability the batch twin exploits (bottom-k of a union
  * = bottom-k of the per-day bottom-k's) is what makes the ring
  * sufficient: no user set is ever retained.
  *
  * Exactness: the sketch is a pure function of md5 values
  * (BottomK.insert — the identical kernel the KmvState aggregator and
  * the SQL twin use), and the estimate math mirrors the batch
  * expression term for term, so StreamWauSpec pins closed-day rows
  * BIT-EQUAL to batch `evt_wau_sketch`. The 7-day merge filters ring
  * entries to the DATE-RANGE [D−6, D] (the batch form is a calendar
  * window, unlike StreamAnomaly's 7-ROW frame), and a day emits only
  * when ≥ 6 calendar days have passed since the earliest day seen —
  * the stream image of the batch `min(day) + 6` warm-up cut. Known
  * asymmetry (same class as StreamAnomaly's): an event OLDER than
  * every day seen so far that arrives after emissions began would
  * retroactively move the batch warm-up cut; such an event is beyond
  * the watermark by construction, so both engines only diverge on
  * data the stream contract already excludes.
  *
  * Scale shape: the sketch INSERT dedups, so raw events feed the state
  * directly (no upstream distinct needed); this demo keys the state as
  * one group — at 100 TB the same state splits per day (keyed sketch
  * aggregation, map-side combined like KmvState) with the ≤ 7-sketch
  * ring merge as a final O(k) step, exactly the batch twin's plan.
  */
object StreamWau {

  final case class Ev(user_id: Long, us: Long, ts: java.sql.Timestamp)
  final case class Wau(day: String, n_union: Long, wau_sketch: Double)
  /** open: dayEpoch → bottom-k sketch; ring: last ≤ 7 CLOSED
    * (dayEpoch, sketch) ascending; minDay: earliest day ever seen. */
  final case class St(open: Map[Long, List[String]],
      ring: List[(Long, List[String])], minDay: Long)
  private lazy val stateEnc = Feeds.encoder[St]
  private lazy val outEnc = Feeds.encoder[Wau]

  private val DayUs = 86400000000L
  private val K = graft.functions.KmvSketch.K
  private val Norm = 4.503599627370496e15 // 16^13 = 2^52, exact double

  /** The batch m-CTE, one day at a time: union the ring sketches inside
    * the calendar window, count the distinct hashes, estimate from the
    * K-th smallest — the same (k−1)/u_k with the same double route. */
  private def mkWau(day: Long, ring: List[(Long, List[String])]): Wau = {
    val merged = ring.filter { case (d, _) => d >= day - 6 && d <= day }
      .flatMap(_._2).distinct.sorted
    val n = merged.size.toLong
    val est =
      if (n < K) n.toDouble
      else (K - 1).toDouble /
        (java.lang.Long.parseLong(merged(K - 1).take(13), 16).toDouble / Norm)
    Wau(java.time.LocalDate.ofEpochDay(day).toString, n, est)
  }

  /** WAU estimates over a (streaming) events frame with columns
    * (user_id, ts); `delay` is the allowed event lateness. */
  def estimates(spark: SparkSession, events: DataFrame,
      delay: String = "1 hour"): Dataset[Wau] = {
    import spark.implicits._
    events
      .withWatermark("ts", delay)
      .select(col("user_id"), unix_micros(col("ts")).as("us"), col("ts"))
      .as[Ev]
      .groupByKey(_ => 0)
      .flatMapGroupsWithState[St, Wau](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_: Int, it: Iterator[Ev], state: GroupState[St]) =>
          var st = state.getOption.getOrElse(St(Map.empty, Nil, Long.MaxValue))
          it.foreach { e =>
            val d = Math.floorDiv(e.us, DayUs)
            st = st.copy(
              open = st.open.updated(d, BottomK.insert(
                st.open.getOrElse(d, Nil),
                BottomK.md5hex(e.user_id.toString), K)(identity)),
              minDay = math.min(st.minDay, d))
          }
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          val (closed, open) =
            st.open.partition { case (d, _) => (d + 1) * DayUs <= wmUs }
          var ring = st.ring
          val out = closed.toSeq.sortBy(_._1).flatMap { case (d, sk) =>
            ring = (ring :+ (d, sk)).takeRight(7)
            if (d >= st.minDay + 6) Some(mkWau(d, ring)) else None
          }
          state.update(St(open, ring, st.minDay))
          if (open.nonEmpty) {
            val wake = (open.keys.min + 1) * 86400000L + 1L
            state.setTimeoutTimestamp(
              math.max(wake, state.getCurrentWatermarkMs() + 1L))
          }
          out.iterator
      }(stateEnc, outEnc)
  }

  /** Drive the estimates over the events parquet in `srcDir`,
    * AvailableNow into a memory sink; `delay` = 0 closes every day
    * behind the final watermark (what makes the batch-equivalence spec
    * exact). */
  def runAvailableNow(spark: SparkSession, srcDir: String,
      queryName: String = "streamwau_out"): DataFrame = {
    val raw = Feeds.source(spark, srcDir, "events")
      .transform(graft.Tables.normalizeTs)
      .select("user_id", "ts")
    Feeds.drain(spark, estimates(spark, raw, "0 seconds")
      .writeStream.format("memory").outputMode("append"), queryName,
      Feeds.sourceBytes(srcDir, "events.parquet"))
    spark.table(queryName)
  }
}
