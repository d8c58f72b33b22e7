package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

/** Streaming twin of the batch `ts_anomaly` query: per event type,
  * flag days whose total deviates more than 2σ from their trailing
  * 7-observed-day window — live, as days CLOSE under the watermark
  * (an ingest tripwire that pages before the bad day is published,
  * instead of in tomorrow's batch audit).
  *
  * A day is closed once the watermark passes its end — no on-time
  * event can still arrive — so each day's total is emitted exactly
  * once, with final statistics. Open-day accumulators and the ring of
  * the last 7 closed days are the ENTIRE per-key state: bounded by
  * 7 + (days inside the watermark delay), independent of stream
  * length. Event-time timeouts flush types that go quiet (a closed day
  * must not wait for its type's next event).
  *
  * Exactness mirrors the batch query's decimal route: per-day sums
  * accumulate as scale-4 longs (the exact image of the batch
  * CAST(value AS DECIMAL(10,4)) SUM), Σx² is computed in BigInteger at
  * emission (scale-8, exact), and both convert to double ONCE before
  * the same pinned mean/σ/flag expression — StreamAnomalySpec pins
  * bit-equality against the batch rows.
  */
object StreamAnomaly {

  final case class Ev(event_type: String, us: Long, value: Double,
      ts: java.sql.Timestamp)
  final case class Flag(event_type: String, day: String, total: Double,
      mean7: Double, sd7: Double, is_anomaly: Boolean)
  /** open: dayEpoch → Σ(scale-4 value); ring: last ≤7 CLOSED
    * (dayEpoch, Σscale-4) ascending by day. */
  final case class St(open: Map[Long, Long], ring: List[(Long, Long)])
  private lazy val stateEnc = Feeds.encoder[St]
  private lazy val outEnc = Feeds.encoder[Flag]

  private val DayUs = 86400000000L

  /** The batch cast's exact image: CAST(double AS DECIMAL(10,4)) as a
    * scale-4 long, INCLUDING the cast's null semantics — NaN/Infinity
    * and values beyond DECIMAL(10,4)'s 6 integer digits cast to NULL in
    * the batch query and are skipped by its SUM, so the stream skips
    * them too (None). Without this, one NaN event would kill the very
    * monitor that should page on bad data, and an overflow value would
    * silently break the pinned stream≡batch equivalence. valueOf
    * (shortest decimal repr) + HALF_UP matches Spark's Double→Decimal
    * route (NOTES rule 7: never the exact-binary BigDecimal
    * constructor). Known asymmetry: a day whose EVERY event is
    * null-valued appears in the batch query as a NULL-total row but
    * never opens in the stream — and the divergence does NOT stop at
    * that sentinel day: the batch window is ROWS-framed, so the
    * NULL-total row occupies one of the next six windows' 7 slots
    * (COUNT(*) counts it, SUM skips it), shifting which day each
    * window starts at and thus mean7/sd7 for the SIX subsequent batch
    * rows, while the stream's ring never saw the day at all. On such
    * data the stream≡batch bit-equality contract is void for that day
    * plus six; both outputs are garbage-in sentinels there, not
    * statistics (an all-null day is a collapsed source — exactly what
    * this monitor exists to page on). */
  private def v4(value: Double): Option[Long] = {
    if (java.lang.Double.isNaN(value) || java.lang.Double.isInfinite(value))
      return None
    val scaled = java.math.BigDecimal.valueOf(value)
      .setScale(4, java.math.RoundingMode.HALF_UP)
    // DECIMAL(10,4) holds 10 digits total → |unscaled| < 10^10
    if (scaled.unscaledValue().abs()
        .compareTo(java.math.BigInteger.TEN.pow(10)) >= 0) None
    else Some(scaled.unscaledValue().longValueExact())
  }

  private def mkFlag(key: String, ring: List[(Long, Long)]): Flag = {
    val (day, tot4) = ring.last
    // EXACTLY the batch ts_anomaly arithmetic (r8 revision): every
    // double derives from an exact ≤38-digit integer via the same op
    // sequence — the variance numerator 7·Σx² − (Σx)² is computed
    // exactly in integers first (≈ 42·var·10⁸, far below the Σx²
    // magnitude whose scale-8 decimal→double cast diverged between
    // engines at sf0.1), then sqrt(num/42)/10⁴ matches the SQL
    // character for character.
    val td = tot4.toDouble / 1.0e4
    val sx4 = ring.map(_._2).sum
    val num = ring.map(_._2).map(v => BigInt(v) * BigInt(v)).sum * 7 -
      BigInt(sx4) * BigInt(sx4)
    val mean7 = (sx4.toDouble / 1.0e4) / 7.0
    // split exact→double at 2⁶² (r12, mirrors the batch ts_anomaly
    // revision character for character; comment tightened r13): num can
    // pass 2⁶³ on a skewed corpus. hi < 2⁵³ converts exactly; lo < 2⁶²
    // is NOT exact past 2⁵³ — it takes one round-to-nearest
    // int64→double rounding performed identically by JVM and DuckDB;
    // hi·2⁶² is an exponent shift (exact); the final addition is the
    // second identical rounding. Parity holds via identical IEEE
    // rounding, with ≤ 1 ulp double-rounding drift vs a direct
    // conversion. Same refusal bound as the batch query.
    require(num < BigInt(2).pow(115),
      s"stream_anomaly: variance numerator passed the exact " +
        s"split-conversion bound 2^115 — num=$num")
    val b62 = BigInt(1) << 62
    val numD = (num / b62).toDouble * 4611686018427387904.0 +
      (num % b62).toDouble
    val sd7 = math.sqrt(numD / 42.0) / 1.0e4
    Flag(key, java.time.LocalDate.ofEpochDay(day).toString, td, mean7, sd7,
      is_anomaly = math.abs(td - mean7) > 2.0 * sd7)
  }

  /** Flags over a (streaming) events frame with columns
    * (event_type, ts, value); `delay` is the allowed event lateness. */
  def flags(spark: SparkSession, events: DataFrame,
      delay: String = "1 hour"): Dataset[Flag] = {
    import spark.implicits._
    events
      .withWatermark("ts", delay)
      .select(col("event_type"), unix_micros(col("ts")).as("us"),
        col("value"), col("ts")).as[Ev]
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[St, Flag](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key: String, it: Iterator[Ev], state: GroupState[St]) =>
          var st = state.getOption.getOrElse(St(Map.empty, Nil))
          it.foreach { e =>
            val d = Math.floorDiv(e.us, DayUs)
            v4(e.value).foreach { v =>
              st = st.copy(open =
                st.open.updated(d, st.open.getOrElse(d, 0L) + v))
            }
          }
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          val (closed, open) =
            st.open.partition { case (d, _) => (d + 1) * DayUs <= wmUs }
          var ring = st.ring
          val out = closed.toSeq.sortBy(_._1).flatMap { case (d, t) =>
            ring = (ring :+ (d, t)).takeRight(7)
            if (ring.size == 7) Some(mkFlag(key, ring)) else None
          }
          state.update(St(open, ring))
          // wake when the earliest open day can close (strictly ahead
          // of the current watermark, or Spark rejects the timestamp)
          if (open.nonEmpty) {
            val wake = (open.keys.min + 1) * 86400000L + 1L
            state.setTimeoutTimestamp(
              math.max(wake, state.getCurrentWatermarkMs() + 1L))
          }
          out.iterator
      }(stateEnc, outEnc)
  }

  /** Drive the flags over the events parquet in `srcDir`, AvailableNow
    * into a memory sink; `delay` = 0 closes every day behind the final
    * watermark, which is what makes the batch-equivalence spec exact. */
  def runAvailableNow(spark: SparkSession, srcDir: String,
      queryName: String = "streamanomaly_out"): DataFrame = {
    val raw = Feeds.source(spark, srcDir, "events")
      .transform(graft.Tables.normalizeTs)
      .select("event_type", "ts", "value")
    Feeds.drain(spark, flags(spark, raw, "0 seconds")
      .writeStream.format("memory").outputMode("append"), queryName,
      Feeds.sourceBytes(srcDir, "events.parquet"))
    spark.table(queryName)
  }
}
