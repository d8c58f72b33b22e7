package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Q, Tables}

/** Product-analytics operators over the `events` stream table: funnel,
  * cohort retention, moving averages, and rollup subtotals — the query
  * family an analytics engine serves from the same events it sessionizes
  * (win_sessionize) and windows (str_window_agg).
  *
  * Scale design (100 TB): every query here shuffles AT MOST ONCE, on
  * user_id or the aggregation key. The funnel deliberately avoids the
  * textbook per-stage self-join chain (three shuffles + three joins):
  * stage timestamps are RUNNING conditional minima inside one window, so
  * all stages ride a single hash partitioning, and the final per-user
  * aggregate reuses that exchange.
  *
  * Engine-parity rules applied: event times compare as integral
  * microseconds (unix_micros ≡ epoch_us — the ns parquet values truncate
  * identically), money sums stay DECIMAL until one final double cast,
  * and date bucketing is integer day arithmetic (datediff // 7), never
  * engine week truncation.
  */
object Analytics {

  /** Oracle for BOTH winsorized forms (the window kernel and the
    * distributed-rank kernel produce identical rows). */
  private val winsorizedSql =
    """WITH r AS (
      |  SELECT l_returnflag AS flag,
      |         CAST(l_extendedprice AS DECIMAL(12,4)) AS x,
      |         row_number() OVER (PARTITION BY l_returnflag
      |           ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS rk,
      |         COUNT(*) OVER (PARTITION BY l_returnflag) AS n
      |  FROM lineitem
      |), b AS (
      |  SELECT flag,
      |         MIN(CASE WHEN rk = CAST(ceil(0.05 * n) AS BIGINT)
      |             THEN x END) AS lo,
      |         MIN(CASE WHEN rk = CAST(ceil(0.95 * n) AS BIGINT)
      |             THEN x END) AS hi
      |  FROM r GROUP BY flag
      |)
      |SELECT r.flag, CAST(COUNT(*) AS BIGINT) AS n,
      |       CAST(b.lo AS DOUBLE) AS lo, CAST(b.hi AS DOUBLE) AS hi,
      |       -- CASE, not LEAST/GREATEST: DuckDB's least/greatest
      |       -- promote DECIMAL args to DOUBLE (order-sensitive sum!);
      |       -- the CASE clamp keeps DECIMAL so the sum stays exact
      |       -- like Spark's decimal least/greatest
      |       CAST(SUM(CASE WHEN r.x < b.lo THEN b.lo
      |                     WHEN r.x > b.hi THEN b.hi
      |                     ELSE r.x END) AS DOUBLE)
      |         / COUNT(*) AS wins_mean
      |FROM r JOIN b USING (flag)
      |GROUP BY r.flag, b.lo, b.hi ORDER BY flag""".stripMargin

  /** Winsorized mean via DISTRIBUTED ranks instead of a per-group rank
    * window — the form that survives a corpus-scale group. The window
    * kernel partitions by l_returnflag: 3 groups is its skew ceiling
    * (at 100 TB one task would sort a third of the corpus). Here the
    * per-group rank is recovered from a GLOBAL rank over the composite
    * (flag, value, tiebreak) key by [[Ranking.withGroupRank]]. No
    * Window node anywhere in the plan; ScaleSpec pins the
    * single-giant-group case against a local exact computation.
    *
    * Bounds and clamped sum come from ONE aggregate over the ranks:
    * with k_lo = ⌈0.05·n⌉, k_hi = ⌈0.95·n⌉ and lo, hi the x at those
    * ranks, Σclamp(x) = (k_lo − 1)·lo + Σ_{k_lo ≤ rk ≤ k_hi} x + (n − k_hi)·hi,
    * because x is non-decreasing in rk within a flag (the rank key
    * leads with the value; the decimal cast is monotone). The sum is
    * DECIMAL, so the identity is exact and the one double cast sees
    * the decimal the clamp-then-sum form produced. */
  private[graft] def winsorizedDistributed(
      li: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val r0 = li.select(col("l_returnflag").as("flag"),
      col("l_extendedprice").cast("decimal(12,4)").as("x"),
      col("l_extendedprice"), col("l_orderkey"), col("l_linenumber"))
    // cached once per input plan, not per call: `globalRowNumber`
    // returns a fresh LogicalRDD each call, which never canonicalizes
    // equal to a prior run's `shared` entry
    val g = graft.Caches.memo(li.sparkSession,
        ("winsRank", li.queryExecution.analyzed.canonicalized)) {
      graft.Caches.shared(Ranking.globalRowNumber(r0,
        Seq("flag", "l_extendedprice", "l_orderkey", "l_linenumber"))
        .select("flag", "x", "row_num"))
    }
    val kLo = ceil(lit(0.05) * col("n")).cast("long")
    val kHi = ceil(lit(0.95) * col("n")).cast("long")
    Ranking.withGroupRank(g, "flag")
      .groupBy("flag")
      .agg(max(col("n")).as("n"),
        min(when(col("rk") === kLo, col("x"))).as("lo"),
        min(when(col("rk") === kHi, col("x"))).as("hi"),
        sum(when(col("rk").between(kLo, kHi), col("x"))).as("mid"))
      .select(col("flag"), col("n"),
        col("lo").cast("double").as("lo"), col("hi").cast("double").as("hi"),
        (((kLo - 1) * col("lo") + col("mid") + (col("n") - kHi) * col("hi"))
          .cast("double") / col("n")).as("wins_mean"))
      .orderBy("flag")
  }

  /** evt_drift_daily's oracle, optionally restricted to watermark-closed
    * days — shared with the driver-visible stream_drift_feed. `day` here
    * is an integer epoch-day, so closure is plain integer arithmetic. */
  private def driftDailySql(closedOnly: Boolean): String = {
    val closed = if (closedOnly)
      """
        |WHERE (dy.day + 1) * 86400000000
        |        <= (SELECT (MAX(epoch_us(CAST(ts AS TIMESTAMP))) // 1000)
        |            * 1000 FROM events)""".stripMargin
    else ""
    s"""WITH e AS (
       |  SELECT event_type,
       |         epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day
       |  FROM events
       |), ref AS (
       |  SELECT event_type, COUNT(*) AS rn FROM e
       |  WHERE day < 19738 GROUP BY event_type
       |), rt AS (
       |  SELECT SUM(rn) AS rtot FROM ref
       |), dy AS (
       |  SELECT day, event_type, COUNT(*) AS n FROM e GROUP BY day, event_type
       |), dt AS (
       |  SELECT day, SUM(n) AS tot FROM dy GROUP BY day
       |)
       |SELECT dy.day, dy.event_type, CAST(dy.n AS BIGINT) AS n,
       |       CAST(dt.tot AS BIGINT) AS day_total,
       |       CAST(ABS(dy.n * rt.rtot - COALESCE(ref.rn, 0) * dt.tot)
       |            * 1000000 // (rt.rtot * dt.tot) AS BIGINT) AS shift_ppm
       |FROM dy JOIN dt USING (day)
       |LEFT JOIN ref USING (event_type) CROSS JOIN rt$closed
       |ORDER BY dy.day, dy.event_type""".stripMargin
  }

  /** evt_cum_users' oracle, optionally restricted to days CLOSED by the
    * final stream watermark — shared with the driver-visible
    * stream_growth_feed (the tsAnomalySql pattern). The cumulative sum
    * runs over ALL days before the closed filter cuts the tail, so the
    * closed rows equal the batch rows verbatim. */
  private def cumUsersSql(closedOnly: Boolean): String = {
    val closed = if (closedOnly)
      """WHERE epoch_us(CAST(day AS TIMESTAMP)) + 86400000000
        |        <= (SELECT (MAX(epoch_us(CAST(ts AS TIMESTAMP))) // 1000)
        |            * 1000 FROM events)
        |""".stripMargin
    else ""
    s"""WITH ud AS (
       |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
       |), f AS (
       |  SELECT user_id, MIN(day) AS day FROM ud GROUP BY user_id
       |), newu AS (
       |  SELECT day, CAST(COUNT(*) AS BIGINT) AS new_users FROM f GROUP BY day
       |), dau AS (
       |  SELECT day, CAST(COUNT(*) AS BIGINT) AS dau FROM ud GROUP BY day
       |), curve AS (
       |  SELECT d.day, d.dau, COALESCE(n.new_users, 0) AS new_users,
       |         CAST(SUM(COALESCE(n.new_users, 0)) OVER (ORDER BY d.day
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |           AS cum_users
       |  FROM dau d LEFT JOIN newu n ON n.day = d.day
       |)
       |SELECT day, dau, new_users, cum_users FROM curve
       |${closed}ORDER BY day""".stripMargin
  }

  /** ts_anomaly's oracle, optionally restricted to days CLOSED by the
    * final stream watermark (max event time, delay 0, floored to ms —
    * the StreamAnomaly contract): shared between the batch query and
    * its driver-visible streaming feed (stream_anomaly_feed). */
  private def tsAnomalySql(closedOnly: Boolean): String = {
    val closed = if (closedOnly)
      """
        |  AND epoch_us(CAST(day AS TIMESTAMP)) + 86400000000
        |        <= (SELECT (MAX(epoch_us(CAST(ts AS TIMESTAMP))) // 1000)
        |            * 1000 FROM events)""".stripMargin
    else ""
    s"""WITH dly AS (
       |  SELECT event_type, CAST(ts AS DATE) AS day,
       |         CAST(SUM(CAST(value AS DECIMAL(10,4))) * 10000 AS BIGINT)
       |           AS t4
       |  FROM events GROUP BY 1, 2
       |), w AS (
       |  SELECT event_type, day, t4,
       |         COUNT(*) OVER w7 AS n,
       |         CAST(SUM(t4) OVER w7 AS BIGINT) AS sx4,
       |         SUM(CAST(t4 AS HUGEINT) * t4) OVER w7 AS sx2
       |  FROM dly
       |  WINDOW w7 AS (PARTITION BY event_type ORDER BY day
       |                ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
       |), v AS (
       |  SELECT event_type, day, t4, sx4, n,
       |         7 * sx2 - CAST(sx4 AS HUGEINT) * sx4 AS num
       |  FROM w
       |), v2 AS (
       |  -- split exact->double conversion (r12, comment tightened r13):
       |  -- num can pass 2^63 on a skewed corpus (the giant-day fixture
       |  -- measured 1.25e19). The guarantee is IDENTICAL-ROUNDING
       |  -- parity, not exactness of both halves: hi = num div 2^62
       |  -- stays < 2^53 and converts exactly; lo < 2^62 does NOT
       |  -- convert exactly past 2^53 — it takes one IEEE
       |  -- round-to-nearest int64->double rounding, the same on both
       |  -- engines; hi_d * 2^62 is a pure exponent shift (exact); the
       |  -- final addition is the second identically-performed rounding.
       |  -- Result: engine/oracle bit parity always, and <= 1 ulp from
       |  -- the single-rounded direct conversion (double rounding).
       |  SELECT event_type, day, t4, sx4, n,
       |         CAST(CAST(num // 4611686018427387904 AS BIGINT) AS DOUBLE)
       |           * 4611686018427387904.0
       |           + CAST(CAST(num % 4611686018427387904 AS BIGINT) AS DOUBLE)
       |           AS num_d
       |  FROM v
       |)
       |SELECT event_type, CAST(day AS DATE) AS day,
       |       CAST(t4 AS DOUBLE) / 1.0e4 AS total,
       |       (CAST(sx4 AS DOUBLE) / 1.0e4) / 7.0 AS mean7,
       |       sqrt(num_d / 42.0) / 1.0e4 AS sd7,
       |       abs(CAST(t4 AS DOUBLE) / 1.0e4
       |           - (CAST(sx4 AS DOUBLE) / 1.0e4) / 7.0) >
       |         2.0 * (sqrt(num_d / 42.0) / 1.0e4)
       |         AS is_anomaly
       |FROM v2 WHERE n = 7$closed
       |ORDER BY event_type, day""".stripMargin
  }

  val queries: Seq[Q] = Seq(

    // ── conversion funnel: view → click → purchase ─────────────────────

    // Per-user stage times: first view, first click AFTER that view,
    // first purchase AFTER that click; depth = stages completed. One
    // shuffle: both running minima and the closing per-user aggregate
    // share the user_id partitioning.
    Q("evt_funnel",
      """WITH e AS (
        |  SELECT user_id, event_id, event_type,
        |         epoch_us(CAST(ts AS TIMESTAMP)) AS us
        |  FROM events
        |), r AS (
        |  SELECT user_id, event_type, us,
        |         MIN(CASE WHEN event_type = 'view' THEN us END)
        |           OVER w AS run_v
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id
        |                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |), s AS (
        |  SELECT user_id,
        |         MIN(CASE WHEN event_type = 'view' THEN us END) AS v_us,
        |         MIN(CASE WHEN event_type = 'click'
        |                   AND run_v IS NOT NULL AND us > run_v THEN us END) AS c_us
        |  FROM r GROUP BY user_id
        |), p AS (
        |  SELECT e.user_id, MIN(e.us) AS p_us
        |  FROM e JOIN s ON e.user_id = s.user_id
        |  WHERE e.event_type = 'purchase' AND s.c_us IS NOT NULL AND e.us > s.c_us
        |  GROUP BY e.user_id
        |)
        |SELECT s.user_id, s.v_us, s.c_us, p.p_us,
        |       CAST(CASE WHEN p.p_us IS NOT NULL THEN 3
        |                 WHEN s.c_us IS NOT NULL THEN 2
        |                 WHEN s.v_us IS NOT NULL THEN 1
        |                 ELSE 0 END AS INTEGER) AS depth
        |FROM s LEFT JOIN p ON s.user_id = p.user_id
        |ORDER BY s.user_id""".stripMargin) { (s, d) =>
      val e = Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("us"))
      val w = Window.partitionBy("user_id").orderBy("us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val r = e
        .withColumn("run_v",
          min(when(col("event_type") === "view", col("us"))).over(w))
      val st = r.groupBy("user_id").agg(
        min(when(col("event_type") === "view", col("us"))).as("v_us"),
        min(when(col("event_type") === "click" &&
          col("run_v").isNotNull && col("us") > col("run_v"), col("us")))
          .as("c_us"))
      // the purchase stage needs "after the FIRST QUALIFIED click", which
      // is only known post-aggregation — one join back on the same
      // user_id partitioning (no new shuffle shape at scale)
      val p = e.filter(col("event_type") === "purchase")
        .join(st.select("user_id", "c_us"), Seq("user_id"))
        .filter(col("c_us").isNotNull && col("us") > col("c_us"))
        .groupBy("user_id").agg(min("us").as("p_us"))
      st.join(p, Seq("user_id"), "left")
        .select(col("user_id"), col("v_us"), col("c_us"), col("p_us"),
          when(col("p_us").isNotNull, 3)
            .when(col("c_us").isNotNull, 2)
            .when(col("v_us").isNotNull, 1)
            .otherwise(0).cast("int").as("depth"))
        .orderBy("user_id")
    },

    // ── windowed funnel: view → click → purchase within 1 day ──────────

    // The TIME-BUDGETED funnel (ClickHouse windowFunnel / Amplitude
    // conversion-window semantics): a user converts only if the whole
    // view→click→purchase chain completes within T = 1 day of the
    // ANCHOR view — and unlike evt_funnel (anchored at the first view
    // forever), EVERY view is a candidate anchor; the user's best
    // (deepest, then earliest) chain wins. Greedy-earliest per anchor
    // is optimal (taking the first qualifying next-stage event
    // maximizes the remaining budget — exchange argument), so per
    // anchor the chain is: first click strictly after the view, first
    // purchase strictly after that click, both ≤ anchor + T. "Strictly
    // after" is strict in TIME via a RANGE (not ROWS) frame — `RANGE
    // BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING` over integer µs, so
    // same-timestamp events never chain and no event_id tie rule is
    // needed. Scale shape: ONE user_id window shuffle computes both
    // forward minima for every row; anchors join their click's
    // onward-purchase on the SAME user_id partitioning; the per-user
    // best is min(struct(−depth, v_us, …)) — a hash aggregate, not a
    // second window (the graph_lpa argmax discipline), so a
    // billion-view user still partial-aggregates map-side.
    Q("evt_window_funnel",
      """WITH e AS (
        |  SELECT user_id, event_type,
        |         epoch_us(CAST(ts AS TIMESTAMP)) AS us
        |  FROM events
        |), r AS (
        |  SELECT user_id, event_type, us,
        |         MIN(CASE WHEN event_type = 'click' THEN us END)
        |           OVER w AS nc,
        |         MIN(CASE WHEN event_type = 'purchase' THEN us END)
        |           OVER w AS np
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us
        |         RANGE BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
        |), anchors AS (
        |  SELECT DISTINCT user_id, us AS v_us, nc FROM r
        |  WHERE event_type = 'view'
        |), clicks AS (
        |  SELECT DISTINCT user_id, us, np FROM r WHERE event_type = 'click'
        |), staged AS (
        |  SELECT a.user_id, a.v_us,
        |         CASE WHEN a.nc IS NOT NULL
        |               AND a.nc <= a.v_us + 86400000000 THEN a.nc END AS c_us,
        |         CASE WHEN a.nc IS NOT NULL
        |               AND a.nc <= a.v_us + 86400000000
        |               AND c.np IS NOT NULL
        |               AND c.np <= a.v_us + 86400000000 THEN c.np END AS p_us
        |  FROM anchors a
        |  LEFT JOIN clicks c ON c.user_id = a.user_id AND c.us = a.nc
        |), scored AS (
        |  SELECT user_id, v_us, c_us, p_us,
        |         CAST(CASE WHEN p_us IS NOT NULL THEN 3
        |                   WHEN c_us IS NOT NULL THEN 2
        |                   ELSE 1 END AS INTEGER) AS depth
        |  FROM staged
        |), best AS (
        |  SELECT *, row_number() OVER (PARTITION BY user_id
        |           ORDER BY depth DESC, v_us) AS rk
        |  FROM scored
        |)
        |SELECT user_id, v_us, c_us, p_us, depth FROM best
        |WHERE rk = 1 ORDER BY user_id""".stripMargin) { (s, d) =>
      val T = 86400000000L
      val LMAX = Long.MaxValue
      val e = Tables.events(s, d).select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      val w = Window.partitionBy("user_id").orderBy("us")
        .rangeBetween(1L, Window.unboundedFollowing)
      // BOTH minima in one select → ONE Window operator (sequential
      // withColumns interpose a Project that defeats CollapseWindow —
      // two sorted passes for no reason); the pass feeds both join
      // branches, so the shared-stage registry materializes it once
      // instead of duplicating the shuffle+sort subtree per branch
      val r = graft.Caches.shared(e.select(
        col("user_id"), col("event_type"), col("us"),
        min(when(col("event_type") === "click", col("us"))).over(w).as("nc"),
        min(when(col("event_type") === "purchase", col("us"))).over(w)
          .as("np")))
      val anchors = r.filter(col("event_type") === "view")
        .select(col("user_id"), col("us").as("v_us"), col("nc")).distinct()
      val clicks = r.filter(col("event_type") === "click")
        .select(col("user_id").as("cuid"), col("us").as("cus"), col("np"))
        .distinct()
      val staged = anchors.join(clicks,
          anchors("user_id") === col("cuid") && col("cus") === col("nc"),
          "left")
        .select(anchors("user_id"), col("v_us"),
          when(col("nc").isNotNull && col("nc") <= col("v_us") + T,
            col("nc")).as("c_us"),
          when(col("nc").isNotNull && col("nc") <= col("v_us") + T &&
            col("np").isNotNull && col("np") <= col("v_us") + T,
            col("np")).as("p_us"))
      staged
        .select(col("user_id"), col("v_us"), col("c_us"), col("p_us"),
          when(col("p_us").isNotNull, 3).when(col("c_us").isNotNull, 2)
            .otherwise(1).cast("int").as("depth"))
        .groupBy("user_id")
        .agg(min(struct((col("depth") * -1).as("nd"), col("v_us").as("v"),
          coalesce(col("c_us"), lit(LMAX)).as("c"),
          coalesce(col("p_us"), lit(LMAX)).as("p"))).as("m"))
        .select(col("user_id"), col("m.v").as("v_us"),
          when(col("m.c") === LMAX, lit(null).cast("long"))
            .otherwise(col("m.c")).as("c_us"),
          when(col("m.p") === LMAX, lit(null).cast("long"))
            .otherwise(col("m.p")).as("p_us"),
          (col("m.nd") * -1).cast("int").as("depth"))
        .orderBy("user_id")
    },

    // ── conversion-window sensitivity sweep (6h / 24h / 72h) ───────────

    // How much of evt_window_funnel's conversion is an artifact of the
    // chosen horizon? The same greedy chain evaluated at THREE budgets
    // in ONE plan: the horizon is a 3-row broadcast DIMENSION crossed
    // into the anchor table (the dedup_minhash_curve design — never
    // three reruns of the window stage), the budget gates become
    // column comparisons, and the per-(horizon, user) best chain folds
    // by the same min-struct hash aggregate. The expensive stage — the
    // user-windowed forward minima — is computed ONCE and shared with
    // evt_window_funnel itself via the session registry. Monotonicity
    // is structural (a longer budget only adds conversions; the spec
    // pins it) and the 24h row must agree with evt_window_funnel's own
    // depth histogram.
    Q("evt_window_funnel_sweep",
      """WITH e AS (
        |  SELECT user_id, event_type,
        |         epoch_us(CAST(ts AS TIMESTAMP)) AS us
        |  FROM events
        |), r AS (
        |  SELECT user_id, event_type, us,
        |         MIN(CASE WHEN event_type = 'click' THEN us END)
        |           OVER w AS nc,
        |         MIN(CASE WHEN event_type = 'purchase' THEN us END)
        |           OVER w AS np
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us
        |         RANGE BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
        |), horizons AS (
        |  SELECT unnest([21600000000, 86400000000, 259200000000]) AS t
        |), anchors AS (
        |  SELECT DISTINCT user_id, us AS v_us, nc FROM r
        |  WHERE event_type = 'view'
        |), clicks AS (
        |  SELECT DISTINCT user_id, us, np FROM r WHERE event_type = 'click'
        |), staged AS (
        |  SELECT h.t, a.user_id,
        |         CASE WHEN a.nc IS NOT NULL AND a.nc <= a.v_us + h.t
        |              THEN a.nc END AS c_us,
        |         CASE WHEN a.nc IS NOT NULL AND a.nc <= a.v_us + h.t
        |               AND c.np IS NOT NULL AND c.np <= a.v_us + h.t
        |              THEN c.np END AS p_us
        |  FROM anchors a
        |  CROSS JOIN horizons h
        |  LEFT JOIN clicks c ON c.user_id = a.user_id AND c.us = a.nc
        |), best AS (
        |  SELECT t, user_id,
        |         MAX(CASE WHEN p_us IS NOT NULL THEN 3
        |                  WHEN c_us IS NOT NULL THEN 2
        |                  ELSE 1 END) AS depth
        |  FROM staged GROUP BY t, user_id
        |)
        |SELECT CAST(t // 3600000000 AS INTEGER) AS horizon_hours,
        |       CAST(COUNT(*) AS BIGINT) AS n_users,
        |       CAST(SUM(CASE WHEN depth = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS d1,
        |       CAST(SUM(CASE WHEN depth = 2 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS d2,
        |       CAST(SUM(CASE WHEN depth = 3 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS d3,
        |       CAST((1000000 * SUM(CASE WHEN depth = 3 THEN 1 ELSE 0 END))
        |            // COUNT(*) AS BIGINT) AS conv_ppm
        |FROM best GROUP BY t ORDER BY horizon_hours""".stripMargin) {
      (s, d) =>
        val e = Tables.events(s, d).select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("us"))
        val w = Window.partitionBy("user_id").orderBy("us")
          .rangeBetween(1L, Window.unboundedFollowing)
        val r = graft.Caches.shared(e.select(
          col("user_id"), col("event_type"), col("us"),
          min(when(col("event_type") === "click", col("us"))).over(w)
            .as("nc"),
          min(when(col("event_type") === "purchase", col("us"))).over(w)
            .as("np")))
        val horizons = s.createDataset(
          Seq(21600000000L, 86400000000L, 259200000000L))(
          org.apache.spark.sql.Encoders.scalaLong).toDF("t")
        val anchors = r.filter(col("event_type") === "view")
          .select(col("user_id"), col("us").as("v_us"), col("nc")).distinct()
        val clicks = r.filter(col("event_type") === "click")
          .select(col("user_id").as("cuid"), col("us").as("cus"), col("np"))
          .distinct()
        val staged = anchors
          .crossJoin(broadcast(horizons))
          .join(clicks,
            anchors("user_id") === col("cuid") && col("cus") === col("nc"),
            "left")
          .select(col("t"), anchors("user_id"),
            when(col("nc").isNotNull && col("nc") <= col("v_us") + col("t"),
              col("nc")).as("c_us"),
            when(col("nc").isNotNull && col("nc") <= col("v_us") + col("t")
              && col("np").isNotNull && col("np") <= col("v_us") + col("t"),
              col("np")).as("p_us"))
        staged
          .select(col("t"), col("user_id"),
            when(col("p_us").isNotNull, 3).when(col("c_us").isNotNull, 2)
              .otherwise(1).as("depth"))
          .groupBy("t", "user_id").agg(max("depth").as("depth"))
          .groupBy("t")
          .agg(count(lit(1)).as("n_users"),
            sum(when(col("depth") === 1, 1L).otherwise(0L)).as("d1"),
            sum(when(col("depth") === 2, 1L).otherwise(0L)).as("d2"),
            sum(when(col("depth") === 3, 1L).otherwise(0L)).as("d3"))
          .select(expr("t div 3600000000").cast("int").as("horizon_hours"),
            col("n_users"), col("d1"), col("d2"), col("d3"),
            expr("(1000000 * d3) div n_users").as("conv_ppm"))
          .orderBy("horizon_hours")
    },

    // ── cohort LTV curve: revenue accumulation per acquisition cohort ──

    // The revenue side of the cohort grid (evt_retention counts heads,
    // this sums wallets): users cohorted by FIRST OBSERVED day, their
    // event `value` accumulated per user-aligned week offset, cumulative
    // LTV-per-user as the one final double. Same observation panel as
    // evt_survival ((day + 7·user) mod 31 < 12 — the filter IS the
    // observation window), because the raw fixture puts every user's
    // first event in the same two days and a single cohort exercises
    // nothing. Money discipline: `value` is an arbitrary DOUBLE, and
    // Σdouble is association-order-dependent — each value is floored
    // once to exact BIGINT micro-units (floor(v·10⁶), identical in
    // both engines), all accumulation is integer, and ltv_per_user is
    // ONE division at the end. Scale shape: the per-user MIN and the
    // join back ride the same user_id shuffle; the cumulative window
    // partitions by cohort with a weeks-span frame (calendar-bounded —
    // row count independent of corpus size); the cohort-size dimension
    // broadcasts back.
    Q("evt_cohort_ltv",
      """WITH e AS (
        |  SELECT user_id,
        |         epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
        |         CAST(floor(value * 1000000) AS BIGINT) AS micro
        |  FROM events
        |), f AS (
        |  SELECT * FROM e WHERE (day + user_id * 7) % 31 < 12
        |), u AS (SELECT user_id, MIN(day) AS d0 FROM f GROUP BY user_id),
        |cs AS (
        |  SELECT d0, CAST(COUNT(*) AS BIGINT) AS cohort_users FROM u
        |  GROUP BY d0
        |), x AS (
        |  SELECT f.user_id, u.d0, (f.day - u.d0) // 7 AS off, f.micro
        |  FROM f JOIN u USING (user_id)
        |), g AS (
        |  SELECT d0 AS cohort_day, off AS week_offset,
        |         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_active,
        |         CAST(SUM(micro) AS BIGINT) AS revenue_micro
        |  FROM x GROUP BY 1, 2
        |), c AS (
        |  SELECT *, CAST(SUM(revenue_micro) OVER (PARTITION BY cohort_day
        |           ORDER BY week_offset) AS BIGINT) AS cum_micro
        |  FROM g
        |)
        |SELECT c.cohort_day, c.week_offset, c.n_active, c.revenue_micro,
        |       c.cum_micro, cs.cohort_users,
        |       CAST(CAST(c.cum_micro AS DOUBLE) / 1000000 / cs.cohort_users
        |         AS DOUBLE) AS ltv_per_user
        |FROM c JOIN cs ON cs.d0 = c.cohort_day
        |ORDER BY cohort_day, week_offset""".stripMargin) { (s, d) =>
      val e = Tables.events(s, d).select(col("user_id"),
          expr("unix_micros(ts) div 86400000000").as("day"),
          floor(col("value") * 1000000).cast("long").as("micro"))
        .filter((col("day") + col("user_id") * 7) % 31 < 12)
      val u = e.groupBy("user_id").agg(min("day").as("d0"))
      val g = e.join(u, Seq("user_id"))
        .select(col("user_id"), col("d0"),
          expr("(day - d0) div 7").as("off"), col("micro"))
        .groupBy(col("d0").as("cohort_day"), col("off").as("week_offset"))
        .agg(countDistinct("user_id").as("n_active"),
          sum("micro").cast("long").as("revenue_micro"))
      val cs = u.groupBy(col("d0").as("cohort_day"))
        .agg(count(lit(1)).as("cohort_users"))
      val wc = Window.partitionBy("cohort_day").orderBy("week_offset")
      g.withColumn("cum_micro", sum("revenue_micro").over(wc).cast("long"))
        .join(broadcast(cs), Seq("cohort_day"))
        .select(col("cohort_day"), col("week_offset"), col("n_active"),
          col("revenue_micro"), col("cum_micro"), col("cohort_users"),
          (col("cum_micro").cast("double") / 1000000 / col("cohort_users"))
            .as("ltv_per_user"))
        .orderBy("cohort_day", "week_offset")
    },

    // ── CEP-style event-sequence pattern match ─────────────────────────

    // MATCH_RECOGNIZE-lite: each user's journey rendered as an ordered
    // initial string (event types map to distinct initials c/e/p/s/v)
    // and matched against named regex patterns — the complex-event-
    // processing queries (did a clean funnel happen with no error in
    // between? did view-click-purchase occur back-to-back? did the
    // journey open with signup?) that
    // windowed aggregates can't phrase. Determinism: the journey is
    // array_sort over (us, event_id, initial) structs — collect_list's
    // arrival order never reaches the output — and the three patterns
    // use only regex constructs with identical semantics in Java regex
    // and DuckDB's RE2 (literals, ., *, +, ^, [^…]). Scale shape: ONE
    // user_id hash aggregate; the collected journey is bounded by a
    // user's own activity (the sessionize contract — max 86 events on
    // this fixture; a journey column is the standard CEP materialization
    // and a pathological mega-user would cap or session-split at
    // ingest).
    Q("evt_seq_pattern",
      """WITH e AS (
        |  SELECT user_id, substr(event_type, 1, 1) AS i,
        |         epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_id
        |  FROM events
        |), j AS (
        |  SELECT user_id,
        |         string_agg(i, '' ORDER BY us, event_id) AS journey,
        |         CAST(COUNT(*) AS BIGINT) AS n_events
        |  FROM e GROUP BY user_id
        |)
        |SELECT user_id, journey, n_events,
        |       regexp_matches(journey, 'v[^e]*c[^e]*p') AS m_clean_funnel,
        |       regexp_matches(journey, 'vcp') AS m_strict_funnel,
        |       regexp_matches(journey, '^s') AS m_signup_first
        |FROM j ORDER BY user_id""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("us"),
          substring(col("event_type"), 1, 1).as("i"))
        .groupBy("user_id")
        .agg(
          array_join(transform(
            array_sort(collect_list(struct(col("us"), col("event_id"),
              col("i")))),
            x => x.getField("i")), "").as("journey"),
          count(lit(1)).as("n_events"))
        .select(col("user_id"), col("journey"), col("n_events"),
          col("journey").rlike("v[^e]*c[^e]*p").as("m_clean_funnel"),
          col("journey").rlike("vcp").as("m_strict_funnel"),
          col("journey").rlike("^s").as("m_signup_first"))
        .orderBy("user_id")
    },

    // Marketing attribution: every purchase credited to the user's
    // FIRST preceding click (first-touch) and MOST RECENT preceding
    // click (last-touch) — the two standard single-touch attribution
    // models, in one pass. Running conditional MIN/MAX over a
    // `ROWS … 1 PRECEDING` frame (strictly-earlier rows under the
    // deterministic (us, event_id) order, so a click sharing the
    // purchase's timestamp attributes iff its event_id is smaller —
    // pinned identically in both engines). Scale shape: ONE user_id
    // window shuffle — the same partitioning evt_funnel rides; no
    // self-join per touch model, no per-purchase scan-back.
    Q("evt_attribution",
      """WITH e AS (
        |  SELECT user_id, event_id, event_type,
        |         epoch_us(CAST(ts AS TIMESTAMP)) AS us
        |  FROM events
        |), r AS (
        |  SELECT user_id, event_id, event_type, us,
        |         MIN(CASE WHEN event_type = 'click' THEN us END)
        |           OVER w AS first_touch_us,
        |         MAX(CASE WHEN event_type = 'click' THEN us END)
        |           OVER w AS last_touch_us
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id
        |                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |)
        |SELECT user_id, event_id AS purchase_id, us AS p_us,
        |       first_touch_us, last_touch_us,
        |       CAST(us - last_touch_us AS BIGINT) AS last_lag_us
        |FROM r WHERE event_type = 'purchase'
        |ORDER BY user_id, purchase_id""".stripMargin) { (s, d) =>
      val e = Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("us"))
      val w = Window.partitionBy("user_id").orderBy("us", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      e
        .withColumn("first_touch_us",
          min(when(col("event_type") === "click", col("us"))).over(w))
        .withColumn("last_touch_us",
          max(when(col("event_type") === "click", col("us"))).over(w))
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"),
          col("us").as("p_us"), col("first_touch_us"), col("last_touch_us"),
          (col("us") - col("last_touch_us")).cast("long").as("last_lag_us"))
        .orderBy("user_id", "purchase_id")
    },

    // ── cohort retention ───────────────────────────────────────────────

    // Cohort = each user's first active day; cell (cohort_day,
    // week_offset) counts the cohort's users active in that week.
    // Integer day arithmetic (datediff // 7) — no engine week
    // truncation. Two aggregates: per-user first day (user_id shuffle),
    // then the cohort cell count.
    Q("evt_retention",
      """WITH e AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day FROM events
        |), f AS (
        |  SELECT user_id, MIN(day) AS cohort_day FROM e GROUP BY user_id
        |)
        |SELECT CAST(f.cohort_day AS DATE) AS cohort_day,
        |       CAST(date_diff('day', f.cohort_day, e.day) // 7 AS BIGINT)
        |         AS week_offset,
        |       CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_users
        |FROM e JOIN f ON e.user_id = f.user_id
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
      val e = Tables.events(s, d)
        .select(col("user_id"), col("ts").cast("date").as("day"))
      val f = e.groupBy("user_id").agg(min("day").as("cohort_day"))
      e.join(f, Seq("user_id"))
        .select(col("cohort_day"),
          // floor(), not div: DuckDB's // floors while Spark's div
          // truncates toward zero — identical only while
          // datediff(day, cohort_day) ≥ 0 (true here: cohort_day is the
          // user's min day, but a future edit losing that invariant
          // would silently diverge on negative offsets; floor is
          // invariant-free)
          expr("floor(datediff(day, cohort_day) / 7)").cast("long")
            .as("week_offset"),
          col("user_id"))
        .groupBy("cohort_day", "week_offset")
        .agg(count_distinct(col("user_id")).as("n_users"))
        .orderBy("cohort_day", "week_offset")
    },

    // ── 7-day moving average of daily value ────────────────────────────

    // Daily per-type totals (exact DECIMAL sums), then a rows-frame
    // moving mean: window sum stays decimal (association-order-free),
    // ONE double division at the end. The window partitions by
    // event_type — bounded frame, no full-table sort.
    Q("ts_moving_avg",
      """WITH dly AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |         SUM(CAST(value AS DECIMAL(10,4))) AS total
        |  FROM events GROUP BY 1, 2
        |)
        |SELECT event_type, CAST(day AS DATE) AS day,
        |       CAST(total AS DOUBLE) AS total,
        |       CAST(SUM(total) OVER w AS DOUBLE) /
        |         COUNT(*) OVER w AS avg7
        |FROM dly
        |WINDOW w AS (PARTITION BY event_type ORDER BY day
        |             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
        |ORDER BY event_type, day""".stripMargin) { (s, d) =>
      val dly = Tables.events(s, d)
        .groupBy(col("event_type"), col("ts").cast("date").as("day"))
        .agg(sum(col("value").cast("decimal(10,4)")).as("total"))
      val w = Window.partitionBy("event_type").orderBy("day")
        .rowsBetween(-6, Window.currentRow)
      dly.select(col("event_type"), col("day"),
          col("total").cast("double").as("total"),
          (sum(col("total")).over(w).cast("double") /
            count(lit(1)).over(w)).as("avg7"))
        .orderBy("event_type", "day")
    },

    // ── seasonal-naive forecast backtest ───────────────────────────────

    // The forecasting baseline every pipeline needs before it earns a
    // model: ŷ(d) = y(d − 7 CALENDAR days), backtested over the whole
    // series. Calendar alignment via an equi-join on (type, day−7) —
    // a ROWS-frame lag would silently misalign on gapped series (the
    // ts_moving_avg_range lesson). Errors accumulate in exact decimal,
    // one final DOUBLE cast per column (oracle parity rule). Scale
    // shape: daily totals pre-aggregate map-side; the self-join keys
    // on (type, day) — the same partitioning both sides already have.
    Q("ts_forecast_snaive",
      """WITH dly AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |         SUM(CAST(value AS DECIMAL(10,4))) AS total
        |  FROM events GROUP BY 1, 2
        |)
        |SELECT d.event_type, CAST(d.day AS DATE) AS day,
        |       CAST(d.total AS DOUBLE) AS actual,
        |       CAST(p.total AS DOUBLE) AS forecast,
        |       CAST(abs(d.total - p.total) AS DOUBLE) AS abs_err
        |FROM dly d JOIN dly p
        |  ON p.event_type = d.event_type AND p.day = d.day - 7
        |ORDER BY d.event_type, day""".stripMargin) { (s, d) =>
      val dly = Tables.events(s, d)
        .groupBy(col("event_type"), col("ts").cast("date").as("day"))
        .agg(sum(col("value").cast("decimal(10,4)")).as("total"))
      val p = dly.select(col("event_type"),
        date_add(col("day"), 7).as("day"), col("total").as("ftotal"))
      dly.join(p, Seq("event_type", "day"))
        .select(col("event_type"), col("day"),
          col("total").cast("double").as("actual"),
          col("ftotal").cast("double").as("forecast"),
          abs(col("total") - col("ftotal")).cast("double").as("abs_err"))
        .orderBy("event_type", "day")
    },

    // ── k-anonymity / l-diversity audit ────────────────────────────────

    // Privacy governance before a table ships into a training set:
    // every quasi-identifier combination (nation × market segment)
    // with fewer than k = 5 members re-identifies its members, and a
    // group whose sensitive attribute (account-balance sign) takes
    // only one value leaks it even at k ≥ 5 (l-diversity < 2). One
    // map-side-combined hash aggregate over the quasi-identifier key;
    // the sensitive-value distinct is bounded (2 signs), so no
    // count-distinct blowup at any group size.
    Q("chk_k_anon",
      """SELECT c_nationkey, c_mktsegment,
        |       CAST(COUNT(*) AS BIGINT) AS n_rows,
        |       CAST(COUNT(DISTINCT c_acctbal < 0) AS BIGINT) AS l_div,
        |       COUNT(*) < 5 AS k_violation,
        |       COUNT(DISTINCT c_acctbal < 0) < 2 AS l_violation
        |FROM customer GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin) { (s, d) =>
      Tables.customer(s, d)
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(count(lit(1)).as("n_rows"),
          count_distinct(col("c_acctbal") < 0).as("l_div"))
        .select(col("c_nationkey"), col("c_mktsegment"),
          col("n_rows"), col("l_div"),
          (col("n_rows") < 5).as("k_violation"),
          (col("l_div") < 2).as("l_violation"))
        .orderBy("c_nationkey", "c_mktsegment")
    },

    // ── new vs returning daily split ───────────────────────────────────

    // The acquisition/retention split every growth dashboard pairs
    // with DAU: per day, how many active users are NEW (first-ever
    // activity) vs RETURNING, and how many events each cohort drives.
    // First-seen day is one map-side-combined MIN per user joined back
    // onto the deduped user-day table (at 100 TB the first-seen
    // dimension is the classic incrementally-maintained table; here it
    // derives in-query). Integer day arithmetic, exact counts, no
    // windows.
    Q("evt_new_vs_returning",
      """WITH ud AS (
        |  SELECT user_id, (CAST(ts AS DATE) - DATE '1970-01-01') AS day,
        |         CAST(COUNT(*) AS BIGINT) AS n_ev
        |  FROM events GROUP BY 1, 2
        |), fs AS (
        |  SELECT user_id, MIN(day) AS first_day FROM ud GROUP BY user_id
        |)
        |SELECT CAST(ud.day AS BIGINT) AS day,
        |       CAST(SUM(CASE WHEN ud.day = fs.first_day THEN 1 ELSE 0 END)
        |            AS BIGINT) AS new_users,
        |       CAST(SUM(CASE WHEN ud.day > fs.first_day THEN 1 ELSE 0 END)
        |            AS BIGINT) AS returning_users,
        |       CAST(SUM(CASE WHEN ud.day = fs.first_day THEN n_ev
        |                ELSE 0 END) AS BIGINT) AS events_new,
        |       CAST(SUM(CASE WHEN ud.day > fs.first_day THEN n_ev
        |                ELSE 0 END) AS BIGINT) AS events_returning
        |FROM ud JOIN fs ON ud.user_id = fs.user_id
        |GROUP BY ud.day ORDER BY day""".stripMargin) { (s, d) =>
      val ud = Tables.events(s, d)
        .groupBy(col("user_id"),
          datediff(col("ts").cast("date"), lit("1970-01-01"))
            .cast("long").as("day"))
        .agg(count(lit(1)).as("n_ev"))
      val fs = ud.groupBy("user_id").agg(min("day").as("first_day"))
      ud.join(fs, Seq("user_id"))
        .groupBy("day")
        .agg(
          sum(when(col("day") === col("first_day"), 1L).otherwise(0L))
            .as("new_users"),
          sum(when(col("day") > col("first_day"), 1L).otherwise(0L))
            .as("returning_users"),
          sum(when(col("day") === col("first_day"), col("n_ev"))
            .otherwise(0L)).as("events_new"),
          sum(when(col("day") > col("first_day"), col("n_ev"))
            .otherwise(0L)).as("events_returning"))
        .orderBy("day")
    },

    // ── DAU / WAU / stickiness ─────────────────────────────────────────

    // Daily active users, trailing-7-day active users, and their ratio
    // (stickiness) — the engagement triple every product dashboard
    // opens with (MAU is the same shape with a 28-day contribution
    // span; 7 keeps the month-long fixture's output dense). Rolling
    // DISTINCT does not decompose over a window frame, so wau7 inverts
    // the problem: each (user, day) activity row CONTRIBUTES to the 7
    // days it stays inside the window (bounded ×7 explode of the
    // deduped user-day table, NOT of raw events), then one
    // count-distinct per day. Days whose window reaches before the
    // data start are excluded (their wau would undercount). At 100 TB
    // the exact explode gives way to one bounded sketch per day merged
    // over the window — EXECUTABLE as evt_wau_sketch (Sketches.scala):
    // same plan shape, O(k) state per day, SketchSpec pins its error
    // against this exact form.
    Q("evt_dau_wau",
      """WITH ud AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
        |), dau AS (
        |  SELECT day, CAST(COUNT(*) AS BIGINT) AS dau FROM ud GROUP BY day
        |), contrib AS (
        |  SELECT ud.user_id, ud.day + CAST(i AS INTEGER) AS day
        |  FROM ud, range(0, 7) r(i)
        |), wau AS (
        |  SELECT day, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS wau7
        |  FROM contrib GROUP BY day
        |)
        |SELECT d.day, d.dau, w.wau7,
        |       CAST(d.dau AS DOUBLE) / w.wau7 AS stickiness
        |FROM dau d JOIN wau w ON w.day = d.day
        |WHERE d.day >= (SELECT MIN(day) FROM ud) + 6
        |ORDER BY d.day""".stripMargin) { (s, d) =>
      val ud = Tables.events(s, d)
        .select(col("user_id"), col("ts").cast("date").as("day")).distinct()
      val dau = ud.groupBy("day").agg(count(lit(1)).as("dau"))
      val contrib = ud.select(col("user_id"),
        explode(sequence(lit(0), lit(6))).as("i"),
        col("day").as("d0"))
        .select(col("user_id"), expr("date_add(d0, i)").as("day"))
      val wau = contrib.groupBy("day")
        .agg(count_distinct(col("user_id")).as("wau7"))
      val minDay = ud.agg(min("day").as("min_day"))
      dau.join(wau, Seq("day"))
        .join(broadcast(minDay))
        .filter(col("day") >= expr("date_add(min_day, 6)"))
        .select(col("day"), col("dau"), col("wau7"),
          (col("dau").cast("double") / col("wau7")).as("stickiness"))
        .orderBy("day")
    },

    // ── user growth curve (new / cumulative users per day) ─────────────

    // The acquisition dashboard: per day, active users, FIRST-seen
    // users, and the cumulative user base. New-user attribution is one
    // per-user min (map-side combinable); the running sum's window
    // input is the DAYS dimension — already aggregated,
    // calendar-bounded (3.7k rows per decade) — so the partition-less
    // frame is scale-safe by construction: corpus size changes the
    // numbers in each row, never the row count the window sorts.
    // (Contrast win_pctrank, whose global-rank input IS the corpus —
    // there the house rule bans exactly this frame.)
    Q("evt_cum_users", cumUsersSql(closedOnly = false)) { (s, d) =>
      val ud = Tables.events(s, d)
        .select(col("user_id"), col("ts").cast("date").as("day")).distinct()
      val first = ud.groupBy("user_id").agg(min("day").as("day"))
      val newu = first.groupBy("day").agg(count(lit(1)).as("new_users"))
      val dau = ud.groupBy("day").agg(count(lit(1)).as("dau"))
      val w = Window.orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      dau.join(newu, Seq("day"), "left")
        .select(col("day"), col("dau"),
          coalesce(col("new_users"), lit(0L)).as("new_users"))
        .withColumn("cum_users", sum("new_users").over(w))
        .orderBy("day")
    },

    // ── streaming growth feed, driver-visible (§2.10 in the oracle) ────

    // StreamGrowth's AvailableNow emissions (per-day first-seen
    // attribution + running totals in GroupState) vs the batch curve on
    // watermark-closed days — the fifth driver-visible streaming row.
    // Same closure rule as the other feeds; StreamGrowthSpec pins the
    // in-JVM equivalence, this re-proves it through the DuckDB gate.
    Q("stream_growth_feed", cumUsersSql(closedOnly = true)) { (s, d) =>
      graft.streaming.StreamGrowth
        .runAvailableNow(s, d, "stream_growth_feed_sink")
        .select(to_date(col("day")).as("day"), col("dau"),
          col("new_users"), col("cum_users"))
        .orderBy("day")
    },

    // ── per-user daily feature matrix (the feature-store build) ────────

    // The materialization a training pipeline actually ships to the
    // feature store: one row per (user, active day) carrying the
    // behavioral features a churn/propensity model consumes — activity
    // volume, exact revenue, day-of-week, recency gap, previous-day
    // revenue, trailing 7-active-day mean — and the LABEL (active
    // tomorrow?) computed with no future leakage beyond the declared
    // one-day horizon. Every feature is exact-integer-derived: revenue
    // as cents, dow as epoch_day % 7 (dayofweek() numbering differs
    // between engines — the ts_stl lesson), gaps as integer day
    // arithmetic, the trailing mean as ONE division of exact cents by
    // (100·n). All windows partition by user (bounded by a user's
    // active-day count); at 100 TB this plan is one map-side-combined
    // rollup + per-user windows — the canonical feature-backfill shape.
    Q("evt_feature_matrix",
      """WITH ud AS (
        |  SELECT user_id, (CAST(ts AS DATE) - DATE '1970-01-01') AS day,
        |         CAST(COUNT(*) AS BIGINT) AS n_events,
        |         CAST(SUM(CAST(value AS DECIMAL(10,4))) * 100 AS BIGINT)
        |           AS cents
        |  FROM events GROUP BY 1, 2
        |), f AS (
        |  SELECT user_id, day, n_events, cents,
        |         lag(day) OVER w AS prev_day,
        |         lag(cents) OVER w AS prev_cents,
        |         CAST(SUM(cents) OVER w7 AS BIGINT) AS c7,
        |         CAST(COUNT(*) OVER w7 AS BIGINT) AS n7,
        |         lead(day) OVER w AS next_day
        |  FROM ud
        |  WINDOW w AS (PARTITION BY user_id ORDER BY day),
        |         w7 AS (PARTITION BY user_id ORDER BY day
        |                ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
        |)
        |SELECT user_id, CAST(day AS BIGINT) AS day, n_events,
        |       CAST(cents AS DOUBLE) / 100 AS revenue,
        |       CAST(day % 7 AS INTEGER) AS dow,
        |       CAST(day - prev_day AS BIGINT) AS gap_days,
        |       CAST(prev_cents AS DOUBLE) / 100 AS prev_revenue,
        |       CAST(c7 AS DOUBLE) / (100 * n7) AS rev_7d_avg,
        |       COALESCE(next_day = day + 1, FALSE) AS next_day_active
        |FROM f ORDER BY user_id, day""".stripMargin) { (s, d) =>
      val ud = Tables.events(s, d)
        .groupBy(col("user_id"),
          datediff(col("ts").cast("date"), lit("1970-01-01")).as("day"))
        .agg(count(lit(1)).as("n_events"),
          (sum(col("value").cast("decimal(10,4)")) * 100).cast("long")
            .as("cents"))
      val w = Window.partitionBy("user_id").orderBy("day")
      val w7 = w.rowsBetween(-6, Window.currentRow)
      ud.select(col("user_id"), col("day").cast("long").as("day"),
          col("n_events"), col("cents"),
          lag("day", 1).over(w).as("prev_day"),
          lag("cents", 1).over(w).as("prev_cents"),
          sum("cents").over(w7).as("c7"),
          count(lit(1)).over(w7).as("n7"),
          lead("day", 1).over(w).as("next_day"))
        .select(col("user_id"), col("day"), col("n_events"),
          (col("cents").cast("double") / 100).as("revenue"),
          (col("day") % 7).cast("int").as("dow"),
          (col("day") - col("prev_day")).cast("long").as("gap_days"),
          (col("prev_cents").cast("double") / 100).as("prev_revenue"),
          (col("c7").cast("double") / (lit(100) * col("n7")))
            .as("rev_7d_avg"),
          coalesce(col("next_day") === col("day") + 1, lit(false))
            .as("next_day_active"))
        .orderBy("user_id", "day")
    },

    // ── winsorized statistics (outlier-robust feature prep) ────────────

    // Mean after clamping to the per-group [p05, p95] band — the
    // feature-engineering step before training on heavy-tailed money
    // columns. The clamp bounds are EXACT order statistics at integer
    // ranks ceil(0.05·n)/ceil(0.95·n) (no quantile interpolation — the
    // interpolation formulas are engine-specific, rank positions are
    // not). One partitioned rank window, a groups-sized bounds table
    // broadcast back, exact decimal clamp+sum, ONE double division.
    // Scale-4 money cast, NOT scale-2: casting a 2-decimal double at
    // its own precision boundary rounds differently per engine (NOTES
    // rule 2 — this query originally failed its oracle exactly there).
    // Skew ceiling: the rank window partitions by l_returnflag, so 3
    // groups = 3 tasks — when a group is corpus-scale, use the
    // agg_winsorized_dist twin below (distributed global ranks, no
    // window), which produces identical rows against the same oracle.
    Q("agg_winsorized", winsorizedSql) { (s, d) =>
      val w = Window.partitionBy("flag")
        .orderBy("l_extendedprice", "l_orderkey", "l_linenumber")
      val wn = Window.partitionBy("flag")
      val r = Tables.lineitem(s, d)
        .select(col("l_returnflag").as("flag"),
          col("l_extendedprice").cast("decimal(12,4)").as("x"),
          col("l_extendedprice"), col("l_orderkey"), col("l_linenumber"))
        .withColumn("rk", row_number().over(w))
        .withColumn("n", count(lit(1)).over(wn))
      val b = r.groupBy("flag").agg(
        min(when(col("rk") === ceil(lit(0.05) * col("n")).cast("long"),
          col("x"))).as("lo"),
        min(when(col("rk") === ceil(lit(0.95) * col("n")).cast("long"),
          col("x"))).as("hi"))
      r.join(broadcast(b), Seq("flag"))
        .groupBy("flag", "lo", "hi")
        .agg(count(lit(1)).as("n"),
          (sum(least(greatest(col("x"), col("lo")), col("hi")))
            .cast("double") / count(lit(1))).as("wins_mean"))
        .select(col("flag"), col("n"),
          col("lo").cast("double").as("lo"), col("hi").cast("double").as("hi"),
          col("wins_mean"))
        .orderBy("flag")
    },

    // The distributed-rank twin (see [[winsorizedDistributed]]): same
    // rows, same oracle, zero Window nodes — exact order statistics
    // that survive one corpus-scale group.
    Q("agg_winsorized_dist", winsorizedSql) { (s, d) =>
      winsorizedDistributed(Tables.lineitem(s, d))
    },

    // ── trailing-window anomaly detection ──────────────────────────────

    // Days whose total deviates more than 2σ from their trailing 7-day
    // window — the data-quality tripwire a daily ingest runs before
    // publishing (a collapsed source or a double-load shows up as an
    // anomalous day, not as a schema error). Parity strategy REVISED
    // in r8 after the sf0.1 oracle audit: the old form cast the
    // scale-8 decimal Σx² to double, and DuckDB's nonzero-scale
    // decimal→double (int128 ÷ 10^scale in float) double-rounds once
    // the unscaled value passes 2⁵³ — measured 1-ulp sd7 drift at
    // sf0.1 (7.9e9 with 8 decimals = 18 significant digits). The
    // robust rule (fuzz-verified): only convert EXACT INTEGERS below
    // 2⁶⁴ to double — both engines round those identically — and do
    // any residual scaling as explicit double ops in the SAME order.
    // So: totals become scale-4 longs t4; the variance numerator
    // num = 7·Σt4² − (Σt4)² is computed EXACTLY in 38-digit integers
    // (catastrophic-cancellation-free by construction — num is
    // ~10⁴× smaller than Σx², ≈ 42·var·10⁸, inside 2⁶⁴ for daily σ
    // up to ~65k units: the documented bound); every double is then
    // derived from an int64/38-digit-exact value by the identical
    // op sequence on both engines. No division by σ anywhere (a
    // constant window has σ = 0): the flag compares |x−μ| against 2σ
    // directly. Warm-up days (window shorter than 7 rows) are
    // excluded rather than emitted with unstable statistics.
    // StreamAnomaly mirrors this arithmetic bit-for-bit.
    Q("ts_anomaly", tsAnomalySql(closedOnly = false)) { (s, d) =>
      val D38 = org.apache.spark.sql.types.DecimalType(38, 0)
      val dly = Tables.events(s, d)
        .groupBy(col("event_type"), col("ts").cast("date").as("day"))
        .agg((sum(col("value").cast("decimal(10,4)")) * 10000)
          .cast("long").as("t4"))
      val w7 = Window.partitionBy("event_type").orderBy("day")
        .rowsBetween(-6, Window.currentRow)
      val stats = dly.select(col("event_type"), col("day"), col("t4"),
        count(lit(1)).over(w7).as("n"),
        sum(col("t4")).over(w7).as("sx4"),
        sum(col("t4").cast(D38) * col("t4")).over(w7).as("sx2"))
        .withColumn("num",
          lit(7) * col("sx2") - col("sx4").cast(D38) * col("sx4"))
        // loud bound guard (ADVICE r8, widened r12): the split hi/lo
        // exact→double channel below is parity-safe while
        // hi = num div 2⁶² stays under 2⁵³, i.e. num < 2¹¹⁵ — the r12
        // skew leg's giant day pushed num to 1.25e19 (past the old 2⁶³
        // direct-conversion bound) and tripped the old guard; past the
        // NEW bound DuckDB's int128→double path drifts SILENTLY again,
        // so a fixture crossing it must still raise, not diverge by an
        // ulp. One codegen'd comparison per surviving row; num ≥ 0 by
        // Cauchy-Schwarz, so the single-sided check is complete.
        .withColumn("num",
          when(col("num") < lit(BigDecimal(2).pow(115)).cast(D38), col("num"))
            .otherwise(raise_error(concat(
              lit("ts_anomaly: variance numerator passed the exact " +
                "split-conversion bound 2^115 — num="),
              col("num").cast("string")))))
        // split exact→double (comment tightened r13 — the invariant is
        // identical-IEEE-rounding PARITY, not exactness of both halves):
        // hi = num div 2⁶² is < 2⁵³ and converts exactly; lo < 2⁶² does
        // NOT convert exactly past 2⁵³ — it takes one round-to-nearest
        // int64→double rounding that Spark and DuckDB perform
        // identically; hi_d · 2⁶² is an exponent shift (exact); the
        // final addition is the second identically-performed rounding.
        // So engine/oracle parity holds bit for bit, while the value may
        // sit ≤ 1 ulp from a direct single-rounded conversion (double
        // rounding) — do NOT "generalize" this into an exactness claim.
        .withColumn("num_d",
          expr("CAST(num div CAST(4611686018427387904 AS DECIMAL(38,0)) AS DOUBLE)")
            * lit(4611686018427387904.0)
            + expr("CAST(CAST(num % CAST(4611686018427387904 AS DECIMAL(38,0)) AS BIGINT) AS DOUBLE)"))
      val td = col("t4").cast("double") / lit(1.0e4)
      val mean7 = (col("sx4").cast("double") / lit(1.0e4)) / lit(7.0)
      val sd7 = sqrt(col("num_d") / lit(42.0)) / lit(1.0e4)
      stats.filter(col("n") === 7)
        .select(col("event_type"), col("day"), td.as("total"),
          mean7.as("mean7"), sd7.as("sd7"),
          (abs(td - mean7) > lit(2.0) * sd7).as("is_anomaly"))
        .orderBy("event_type", "day")
    },

    // ── streaming anomaly feed, driver-visible (§2.10 in the oracle) ───

    // StreamAnomaly's AvailableNow emissions (per-type 7-day ring in
    // GroupState, bit-identical arithmetic to ts_anomaly by
    // construction) materialized and oracled against the INDEPENDENT
    // batch computation restricted to watermark-closed days — the
    // fourth driver-visible streaming row. StreamAnomalySpec pins
    // stream ≡ batch in-JVM; this re-proves it per round through the
    // DuckDB hash gate. Closure rule identical to stream_wau_feed's:
    // final watermark = max event time floored to ms, day closed iff
    // its end is at-or-before it.
    Q("stream_anomaly_feed", tsAnomalySql(closedOnly = true)) { (s, d) =>
      graft.streaming.StreamAnomaly
        .runAvailableNow(s, d, "stream_anomaly_feed_sink")
        .select(col("event_type"), to_date(col("day")).as("day"),
          col("total"), col("mean7"), col("sd7"), col("is_anomaly"))
        .orderBy("event_type", "day")
    },

    // ── range-frame moving average (calendar days, not rows) ───────────

    // The RANGE twin of ts_moving_avg: the frame is the last 7 CALENDAR
    // days, not the last 7 observations — on a series with gaps the two
    // disagree, and the range form is what "weekly trailing average"
    // actually means. Frame bounds ride an integer epoch-day key, so
    // both engines bound the frame identically; sums stay decimal.
    Q("ts_moving_avg_range",
      """WITH dly AS (
        |  SELECT event_type,
        |         date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS dnum,
        |         CAST(ts AS DATE) AS day,
        |         SUM(CAST(value AS DECIMAL(10,4))) AS total
        |  FROM events GROUP BY 1, 2, 3
        |)
        |SELECT event_type, CAST(day AS DATE) AS day,
        |       CAST(SUM(total) OVER w AS DOUBLE) /
        |         COUNT(*) OVER w AS avg7d
        |FROM dly
        |WINDOW w AS (PARTITION BY event_type ORDER BY dnum
        |             RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
        |ORDER BY event_type, day""".stripMargin) { (s, d) =>
      val dly = Tables.events(s, d)
        .groupBy(col("event_type"),
          datediff(col("ts").cast("date"), to_date(lit("1970-01-01")))
            .as("dnum"),
          col("ts").cast("date").as("day"))
        .agg(sum(col("value").cast("decimal(10,4)")).as("total"))
      val w = Window.partitionBy("event_type").orderBy("dnum")
        .rangeBetween(-6, Window.currentRow)
      dly.select(col("event_type"), col("day"),
          (sum(col("total")).over(w).cast("double") /
            count(lit(1)).over(w)).as("avg7d"))
        .orderBy("event_type", "day")
    },

    // ── fixed-width histogram ──────────────────────────────────────────

    // Value distribution per event type in width-10 bins — the
    // profiling histogram behind data-drift monitors. Bin assignment is
    // exact integer math on the decimal value (floor division — no
    // float binning drift at bin edges); one hash aggregate.
    Q("agg_histogram",
      """SELECT event_type,
        |       CAST(FLOOR(CAST(value AS DECIMAL(10,4)) / 10) AS BIGINT) AS bin,
        |       CAST(COUNT(*) AS BIGINT) AS n
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .groupBy(col("event_type"),
          floor(col("value").cast("decimal(10,4)") / 10).cast("long").as("bin"))
        .agg(count(lit(1)).as("n"))
        .orderBy("event_type", "bin")
    },

    // ── event-transition matrix ────────────────────────────────────────

    // First-order Markov transitions between consecutive event types
    // per user — the sequence model behind next-action prediction and
    // funnel-leak analysis. One user_id shuffle for the lag window; the
    // transition matrix itself is |types|² rows, so the per-prev
    // probability normalization windows over a tiny aggregate, and the
    // division is one integer-fed double op (exact parity).
    Q("evt_markov",
      """WITH e AS (
        |  SELECT user_id, event_type,
        |         epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_id
        |  FROM events
        |), b AS (
        |  SELECT lag(event_type) OVER (PARTITION BY user_id
        |                               ORDER BY us, event_id) AS prev,
        |         event_type AS curr
        |  FROM e
        |), m AS (
        |  SELECT prev, curr, COUNT(*) AS n FROM b
        |  WHERE prev IS NOT NULL GROUP BY prev, curr
        |)
        |SELECT prev, curr, CAST(n AS BIGINT) AS n,
        |       CAST(n AS DOUBLE) /
        |         SUM(n) OVER (PARTITION BY prev) AS p
        |FROM m ORDER BY prev, curr""".stripMargin) { (s, d) =>
      val w = Window.partitionBy("user_id").orderBy("us", "event_id")
      val m = Tables.events(s, d)
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("us"), col("event_id"))
        .withColumn("prev", lag(col("event_type"), 1).over(w))
        .filter(col("prev").isNotNull)
        .groupBy(col("prev"), col("event_type").as("curr"))
        .agg(count(lit(1)).as("n"))
      m.select(col("prev"), col("curr"), col("n"),
          (col("n").cast("double") /
            sum(col("n")).over(Window.partitionBy("prev"))).as("p"))
        .orderBy("prev", "curr")
    },

    // ── OHLC resampling ────────────────────────────────────────────────

    // Daily open/high/low/close of value per event type — the canonical
    // time-series downsample. Open/close come from first_value over
    // (day, type)-PARTITIONED windows with a full (us, event_id)
    // tie-break (min_by/arg_min tie behavior is engine-arbitrary; an
    // ordered window with a unique key is not); high/low are plain
    // decimal extrema. Both windows and the final aggregate share one
    // (event_type, day) shuffle.
    Q("ts_ohlc",
      """WITH e AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |         epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_id,
        |         CAST(value AS DECIMAL(10,4)) AS v
        |  FROM events
        |), w AS (
        |  SELECT event_type, day, v,
        |         first_value(v) OVER (PARTITION BY event_type, day
        |                              ORDER BY us, event_id) AS o,
        |         first_value(v) OVER (PARTITION BY event_type, day
        |                              ORDER BY us DESC, event_id DESC) AS c
        |  FROM e
        |)
        |SELECT event_type, CAST(day AS DATE) AS day,
        |       CAST(MIN(o) AS DOUBLE) AS px_open,
        |       CAST(MAX(v) AS DOUBLE) AS px_high,
        |       CAST(MIN(v) AS DOUBLE) AS px_low,
        |       CAST(MIN(c) AS DOUBLE) AS px_close
        |FROM w GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
      val e = Tables.events(s, d)
        .select(col("event_type"), col("ts").cast("date").as("day"),
          unix_micros(col("ts")).as("us"), col("event_id"),
          col("value").cast("decimal(10,4)").as("v"))
      val wAsc = Window.partitionBy("event_type", "day")
        .orderBy(col("us"), col("event_id"))
      val wDesc = Window.partitionBy("event_type", "day")
        .orderBy(col("us").desc, col("event_id").desc)
      e.withColumn("o", first(col("v")).over(wAsc))
        .withColumn("c", first(col("v")).over(wDesc))
        .groupBy("event_type", "day")
        .agg(min("o").cast("double").as("px_open"),
          max("v").cast("double").as("px_high"),
          min("v").cast("double").as("px_low"),
          min("c").cast("double").as("px_close"))
        .orderBy("event_type", "day")
    },

    // ── relative standing: percent_rank / cume_dist ────────────────────

    // Where each customer's spend sits in the distribution. The oracle
    // is DuckDB's NATIVE percent_rank()/cume_dist() over a global ORDER
    // BY; the Spark side refuses the equivalent partition-less window
    // (the one-task scale-killer snk_api_batch already evicted) and
    // builds the same numbers distributed: Ranking.globalRowNumber,
    // tie-merged into rank/rank_le by a window PARTITIONED on
    // the spend value, then pure rank arithmetic against a broadcast
    // 1-row total. Exact parity: (rank-1)/(n-1) and rank_le/n are one
    // integer-fed double division each, the very formulas the native
    // functions evaluate.
    Q("win_pctrank",
      """WITH spend AS (
        |  SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS s
        |  FROM orders GROUP BY o_custkey
        |)
        |SELECT o_custkey, CAST(s AS DOUBLE) AS spend,
        |       percent_rank() OVER (ORDER BY s) AS pr,
        |       cume_dist() OVER (ORDER BY s) AS cd
        |FROM spend ORDER BY o_custkey""".stripMargin) { (s, d) =>
      val spend = Tables.orders(s, d)
        .groupBy("o_custkey")
        .agg(sum(col("o_totalprice").cast("decimal(14,2)")).as("s"))
      val rn = Ranking.globalRowNumber(spend, Seq("s", "o_custkey"))
      val tot = spend.agg(count(lit(1)).as("n"))
      val ws = Window.partitionBy("s")
      rn.crossJoin(broadcast(tot))
        .withColumn("rank", min("row_num").over(ws))
        .withColumn("le", max("row_num").over(ws))
        .select(col("o_custkey"), col("s").cast("double").as("spend"),
          when(col("n") > 1, (col("rank") - 1) / (col("n") - 1))
            .otherwise(0.0).as("pr"),
          (col("le") / col("n")).as("cd"))
        .orderBy("o_custkey")
    },

    // ── rollup subtotals ───────────────────────────────────────────────

    // ROLLUP (returnflag, linestatus): detail rows + per-flag subtotals
    // + grand total in ONE pass — Spark's Expand feeds a single hash
    // aggregate (map-side combined), not three scans. Exact decimal
    // sums; NULL grouping slots labelled 'ALL' so the output is
    // unambiguous without grouping_id.
    Q("agg_rollup",
      """SELECT COALESCE(l_returnflag, 'ALL') AS rflag,
        |       COALESCE(l_linestatus, 'ALL') AS lstatus,
        |       CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS qty
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY rflag, lstatus""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(12,2)")).cast("double").as("qty"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("rflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("lstatus"),
          col("n"), col("qty"))
        .orderBy("rflag", "lstatus")
    },

    // ── semi-structured JSON column ────────────────────────────────────

    // The events `props` column is a JSON document: extract a typed
    // field path and aggregate on it — per-row codegen'd JSON path
    // evaluation (get_json_object), one hash aggregate; the payload
    // never materializes as a parsed struct wider than the fields used.
    Q("evt_props_json",
      """SELECT event_type,
        |       CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(SUM(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k,
        |       CAST(COUNT(DISTINCT CAST(props->>'$.k' AS BIGINT)) AS BIGINT)
        |         AS nd_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) {
      (s, d) =>
      Tables.events(s, d)
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("k").as("sum_k"),
          count_distinct(col("k")).as("nd_k"))
        .orderBy("event_type")
    },

    // ── table profiling ────────────────────────────────────────────────

    // Per-column null count / exact distinct count / min / max over the
    // orders table — the data-quality profile an engine runs before
    // trusting a feed. ONE scan: all per-column aggregates compute in a
    // single global aggregate (Spark plans one Expand for the distincts,
    // still one pass over the data), then unpivot via stack. Min/max
    // aggregate in the NATIVE type and stringify after (lexicographic
    // min of stringified ints would be wrong — and identically wrong in
    // both engines, which is how a profile bug would slip through an
    // oracle; timestamps profile as dates).
    Q("chk_profile", {
      def one(c: String, cast: String) =
        s"""SELECT '$c' AS column_name,
           |  CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
           |  CAST(COUNT(DISTINCT $c) AS BIGINT) AS n_distinct,
           |  CAST(MIN($cast) AS VARCHAR) AS min_s,
           |  CAST(MAX($cast) AS VARCHAR) AS max_s
           |FROM orders""".stripMargin
      Seq(
        one("o_orderkey", "o_orderkey"),
        one("o_custkey", "o_custkey"),
        one("o_orderstatus", "o_orderstatus"),
        one("o_orderdate", "CAST(o_orderdate AS DATE)"),
        one("o_orderpriority", "o_orderpriority"))
        .mkString("", "\nUNION ALL\n", "\nORDER BY column_name") }) { (s, d) =>
      val specs = Seq(
        "o_orderkey" -> col("o_orderkey"),
        "o_custkey" -> col("o_custkey"),
        "o_orderstatus" -> col("o_orderstatus"),
        "o_orderdate" -> col("o_orderdate").cast("date"),
        "o_orderpriority" -> col("o_orderpriority"))
      val aggs = specs.flatMap { case (n, c) => Seq(
        sum(when(col(n).isNull, 1L).otherwise(0L)).as(s"${n}__nulls"),
        count_distinct(col(n)).as(s"${n}__nd"),
        min(c).cast("string").as(s"${n}__min"),
        max(c).cast("string").as(s"${n}__max")) }
      val wide = Tables.orders(s, d).agg(aggs.head, aggs.tail: _*)
      val rows = specs.map { case (n, _) =>
        struct(lit(n).as("column_name"),
          col(s"${n}__nulls").as("n_nulls"),
          col(s"${n}__nd").as("n_distinct"),
          col(s"${n}__min").as("min_s"),
          col(s"${n}__max").as("max_s")) }
      wide.select(explode(array(rows: _*)).as("r"))
        .select("r.*").orderBy("column_name")
    },

    // ── exact-decimal variance / stddev ────────────────────────────────

    // Per-flag mean and SAMPLE stddev of quantity with ORACLE BIT-PARITY
    // — normally impossible for streaming variance (Welford/merge order
    // differs), solved by the sufficient-statistics route: Σx and Σx²
    // accumulate EXACTLY in decimal (association-order-free), and the
    // variance formula then runs in double with one pinned expression
    // shape on both engines. One map-side-combined hash aggregate.
    Q("agg_stats",
      """SELECT l_returnflag,
        |       CAST(n AS BIGINT) AS n,
        |       sxd / nd AS mean,
        |       sqrt((sx2d * nd - sxd * sxd) / (nd * (nd - 1))) AS sd
        |FROM (
        |  SELECT l_returnflag, COUNT(*) AS n,
        |         CAST(COUNT(*) AS DOUBLE) AS nd,
        |         CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sxd,
        |         CAST(SUM(CAST(l_quantity AS DECIMAL(12,2)) *
        |                  CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sx2d
        |  FROM lineitem GROUP BY l_returnflag)
        |ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      val q = col("l_quantity").cast("decimal(12,2)")
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), sum(q).as("sx"), sum(q * q).as("sx2"))
        .select(col("l_returnflag"), col("n"),
          col("n").cast("double").as("nd"),
          col("sx").cast("double").as("sxd"),
          col("sx2").cast("double").as("sx2d"))
        .select(col("l_returnflag"), col("n"),
          (col("sxd") / col("nd")).as("mean"),
          sqrt((col("sx2d") * col("nd") - col("sxd") * col("sxd")) /
            (col("nd") * (col("nd") - 1))).as("sd"))
        .orderBy("l_returnflag")
    },

    // ── exact median ───────────────────────────────────────────────────

    // Exact per-flag median of quantity. Spark side: order statistics —
    // row_number over the per-flag sort picks the middle one/two
    // values, averaged ((a+b)/2). Oracle: DuckDB's NATIVE median()
    // (quantile_cont 0.5), an independent implementation — its
    // a+(b-a)·0.5 interpolation shape only agrees bit-for-bit because
    // l_quantity is INTEGRAL (both shapes exact in double below 2^52);
    // ── rolling 7-day median of the daily revenue series ───────────────

    // The robust twin of ts_moving_avg: a single outlier day drags a
    // trailing mean for a week but leaves the rolling median untouched
    // — the series an on-call dashboard should alert on. Exact order
    // statistics inside each ROWS frame: the 7-day window collects
    // exact cents, sorts in-plan, and DOUBLES the median before the
    // single division (odd/even frames share one integer expression,
    // the evt_mad_anomaly discipline). The days dimension is calendar-
    // bounded, so the partition-less frame is the documented
    // evt_cum_users exception.
    Q("ts_rolling_median",
      """WITH dly AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day,
        |         CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,4))
        |              * 100 AS DECIMAL(38,0))) AS BIGINT) AS cents
        |  FROM orders GROUP BY 1
        |), f AS (
        |  SELECT day, cents,
        |         list_sort(list(cents) OVER (ORDER BY day
        |           ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)) AS w
        |  FROM dly
        |)
        |SELECT day, cents,
        |       CAST(CASE WHEN len(w) % 2 = 1 THEN 2 * w[(len(w)+1)//2]
        |            ELSE w[len(w)//2] + w[len(w)//2 + 1] END AS BIGINT)
        |         AS med2,
        |       CAST(CAST(CASE WHEN len(w) % 2 = 1 THEN 2 * w[(len(w)+1)//2]
        |            ELSE w[len(w)//2] + w[len(w)//2 + 1] END AS DOUBLE)
        |            / 200 AS DOUBLE) AS median_dollars
        |FROM f ORDER BY day""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val dly = Tables.orders(s, d)
        .groupBy(col("o_orderdate").cast("date").as("day"))
        .agg(sum((col("o_totalprice")
            .cast(org.apache.spark.sql.types.DecimalType(12, 4)) * 100)
          .cast(org.apache.spark.sql.types.DecimalType(38, 0)))
          .cast("long").as("cents"))
      val w7 = Window.orderBy("day").rowsBetween(-6, 0)
      val f = dly.select(col("day"), col("cents"),
        array_sort(collect_list("cents").over(w7)).as("w"))
      val n = size(col("w"))
      val med2 = when(n % 2 === 1,
          lit(2) * element_at(col("w"), ((n + 1) / 2).cast("int")))
        .otherwise(element_at(col("w"), (n / 2).cast("int"))
          + element_at(col("w"), (n / 2).cast("int") + 1))
      f.select(col("day"), col("cents"), med2.cast("long").as("med2"),
          (med2.cast("double") / 200).as("median_dollars"))
        .orderBy("day")
    },

    // ── longest active-day streak per user (gaps and islands) ──────────

    // The canonical gaps-and-islands exercise as a product metric:
    // consecutive-active-day streaks. day − row_number() is constant
    // within a run of consecutive days and unique per run, so one
    // user-partitioned window + two hash aggs produce every user's
    // longest streak, current streak length, and island count — no
    // self-join, no recursion. All windows user-partitioned (bounded
    // by a user's active days).
    Q("win_streak",
      """WITH ud AS (
        |  SELECT DISTINCT user_id,
        |         CAST(ts AS DATE) - DATE '1970-01-01' AS dnum
        |  FROM events
        |), isl AS (
        |  SELECT user_id, dnum,
        |         dnum - row_number() OVER (PARTITION BY user_id
        |           ORDER BY dnum) AS island
        |  FROM ud
        |), runs AS (
        |  SELECT user_id, island, CAST(COUNT(*) AS BIGINT) AS len,
        |         MAX(dnum) AS last_day
        |  FROM isl GROUP BY user_id, island
        |)
        |SELECT user_id,
        |       CAST(MAX(len) AS BIGINT) AS longest,
        |       CAST(COUNT(*) AS BIGINT) AS n_streaks,
        |       CAST(MAX(CASE WHEN last_day = (SELECT MAX(dnum) FROM isl i2
        |              WHERE i2.user_id = runs.user_id) THEN len END)
        |         AS BIGINT) AS last_streak
        |FROM runs GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val ud = Tables.events(s, d)
        .select(col("user_id"),
          datediff(col("ts").cast("date"), lit("1970-01-01")).as("dnum"))
        .distinct()
      val w = Window.partitionBy("user_id").orderBy("dnum")
      val runs = ud
        .withColumn("island", col("dnum") - row_number().over(w))
        .groupBy("user_id", "island")
        .agg(count(lit(1)).as("len"), max("dnum").as("last_day"))
      val lastDay = ud.groupBy("user_id").agg(max("dnum").as("mx"))
      runs.join(lastDay, Seq("user_id"))
        .groupBy("user_id")
        .agg(max("len").as("longest"), count(lit(1)).as("n_streaks"),
          max(when(col("last_day") === col("mx"), col("len")))
            .as("last_streak"))
        .orderBy("user_id")
    },

    // ── exact weighted median via domain collapse ──────────────────────

    // Revenue-weighted median quantity per return flag — "the quantity
    // at which half the money sits on each side", the robust center a
    // mean-of-quantities misses entirely when price scales with size.
    // The SCALE trick is domain collapse: l_quantity is a ≤50-value
    // integer domain, so the corpus first collapses to (flag, quantity,
    // Σcents) by one map-side-combined hash agg, and the running-weight
    // window then rides a ≤50-row partition — exact weighted order
    // statistics with NO corpus-scale sort at any data size (the same
    // move agg_histogram makes). Weights are exact BIGINT cents
    // (D38-summed, < 2⁶³ by fixture bounds); the median is the
    // smallest q with 2·cum ≥ W, all-integer.
    Q("agg_weighted_median",
      """WITH w AS (
        |  SELECT l_returnflag AS flag, CAST(l_quantity AS BIGINT) AS q,
        |         CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,4))
        |              * 100 AS DECIMAL(38,0))) AS BIGINT) AS cents
        |  FROM lineitem GROUP BY 1, 2
        |), c AS (
        |  SELECT flag, q, cents,
        |         SUM(cents) OVER (PARTITION BY flag ORDER BY q
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |           AS cum,
        |         SUM(cents) OVER (PARTITION BY flag) AS total
        |  FROM w
        |)
        |SELECT flag, CAST(MIN(CASE WHEN 2 * cum >= total THEN q END)
        |         AS BIGINT) AS wmedian,
        |       CAST(MIN(total) AS BIGINT) AS total_cents
        |FROM c GROUP BY flag ORDER BY flag""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val w = Tables.lineitem(s, d)
        .groupBy(col("l_returnflag").as("flag"),
          col("l_quantity").cast("long").as("q"))
        .agg(sum((col("l_extendedprice")
            .cast(org.apache.spark.sql.types.DecimalType(12, 4)) * 100)
          .cast(org.apache.spark.sql.types.DecimalType(38, 0)))
          .cast("long").as("cents"))
      val wc = Window.partitionBy("flag").orderBy("q")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wt = Window.partitionBy("flag")
      w.select(col("flag"), col("q"), col("cents"),
          sum("cents").over(wc).as("cum"),
          sum("cents").over(wt).as("total"))
        .groupBy("flag")
        .agg(min(when(lit(2) * col("cum") >= col("total"), col("q")))
          .as("wmedian"),
          min("total").cast("long").as("total_cents"))
        .orderBy("flag")
    },

    // ── running distinct (first-seen cumulative) per user ──────────────

    // "How many distinct event types has this user touched, to date?" —
    // the breadth-of-engagement curve. Windowed COUNT(DISTINCT) does
    // not exist in either engine; the scalable identity is first-seen
    // collapse: min(day) per (user, type) — one map-side-combined agg —
    // then a running count over the user's FIRST-SEEN days only
    // (user-partitioned, bounded by the type vocabulary, not by
    // events). Rows exist only on days a new type appears, by contract.
    Q("win_running_distinct",
      """WITH fs AS (
        |  SELECT user_id, event_type, MIN(CAST(ts AS DATE)) AS day
        |  FROM events GROUP BY user_id, event_type
        |), nd AS (
        |  SELECT user_id, day, CAST(COUNT(*) AS BIGINT) AS new_types
        |  FROM fs GROUP BY user_id, day
        |)
        |SELECT user_id, day, new_types,
        |       CAST(SUM(new_types) OVER (PARTITION BY user_id ORDER BY day
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |         AS BIGINT) AS cum_types
        |FROM nd ORDER BY user_id, day""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val fs = Tables.events(s, d)
        .groupBy("user_id", "event_type")
        .agg(min(col("ts").cast("date")).as("day"))
      val nd = fs.groupBy("user_id", "day")
        .agg(count(lit(1)).as("new_types"))
      val w = Window.partitionBy("user_id").orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      nd.select(col("user_id"), col("day"), col("new_types"),
          sum("new_types").over(w).cast("long").as("cum_types"))
        .orderBy("user_id", "day")
    },

    // arbitrary-decimal columns would need the sufficient-statistics
    // route instead. Exact medians need the per-group sort; the
    // approximate-at-scale path is sketch_quantile's bounded-state
    // bottom-k sample. Same 3-group skew ceiling as agg_winsorized's
    // rank window — a corpus-scale group takes the distributed-rank
    // route winsorizedDistributed demonstrates (global ranks, no
    // window).
    Q("agg_median",
      """SELECT l_returnflag, median(CAST(l_quantity AS DOUBLE)) AS med
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) {
      (s, d) =>
      Tables.lineitem(s, d)
        .select(col("l_returnflag"), col("l_quantity").cast("double").as("q"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("l_returnflag").orderBy("q")))
        .withColumn("n", count(lit(1)).over(Window.partitionBy("l_returnflag")))
        .filter(col("rn") === expr("(n + 1) div 2") ||
          col("rn") === expr("(n + 2) div 2"))
        .groupBy("l_returnflag")
        .agg((sum("q") / count(lit(1))).as("med"))
        .orderBy("l_returnflag")
    },

    // ── MERGE-shaped upsert classification ─────────────────────────────

    // The declarative core of a lakehouse MERGE INTO: target ⟗ updates
    // on the key, each output row classified insert / update / keep and
    // carrying the winning payload. One shuffle join on the key — at
    // 100 TB this is exactly the join Delta/Iceberg MERGE plans before
    // the file rewrite, and with both sides bucketed on the key it runs
    // exchange-free (ScaleSpec's bucketed-join proof covers the shape).
    Q("snk_merge",
      """WITH target AS (
        |  SELECT o_orderkey AS k, o_totalprice AS price FROM orders
        |  WHERE o_orderkey < 1000
        |), updates AS (
        |  SELECT o_orderkey AS k, o_totalprice + 1.0 AS price FROM orders
        |  WHERE o_orderkey >= 500 AND o_orderkey < 1500
        |)
        |SELECT COALESCE(t.k, u.k) AS k,
        |       CASE WHEN t.k IS NULL THEN 'insert'
        |            WHEN u.k IS NULL THEN 'keep'
        |            ELSE 'update' END AS action,
        |       COALESCE(u.price, t.price) AS price
        |FROM target t FULL OUTER JOIN updates u ON t.k = u.k
        |ORDER BY k""".stripMargin) { (s, d) =>
      val o = Tables.orders(s, d)
      val target = o.filter(col("o_orderkey") < 1000)
        .select(col("o_orderkey").as("tk"), col("o_totalprice").as("tprice"))
      val updates = o.filter(col("o_orderkey") >= 500 && col("o_orderkey") < 1500)
        .select(col("o_orderkey").as("uk"), (col("o_totalprice") + 1.0).as("uprice"))
      target.join(updates, col("tk") === col("uk"), "full_outer")
        .select(coalesce(col("tk"), col("uk")).as("k"),
          when(col("tk").isNull, "insert")
            .when(col("uk").isNull, "keep")
            .otherwise("update").as("action"),
          coalesce(col("uprice"), col("tprice")).as("price"))
        .orderBy("k")
    },

    // ── categorical drift audit: train epoch vs serve epoch ────────────

    // The data-drift monitor that gates a model retrain or a training-
    // data refresh: per audited column, how far each category's share
    // moved between two epochs. Everything stays in EXACT integer space
    // — the per-category shift is |cnt_a·tot_b − cnt_b·tot_a| ppm,
    // cross-multiplied so no float share division ever happens (the
    // house rule from txt_zipf_rank: cross-multiply, don't divide), and
    // integer `div` floors identically in both engines. Scale shape:
    // ONE scan of the fact (the audited columns unpivot via a per-row
    // explode bounded by the audit list, not a scan per column), counts
    // map-side combine to |columns| × |vocab| rows, epoch totals join
    // back as a broadcast. At 100 TB the only full-corpus work is the
    // scan itself; everything after is vocabulary-sized. A spec pins
    // TVD/2 reassembly from the matrix and the all-categories-sum
    // invariant.
    Q("chk_drift",
      """WITH src AS (
        |  SELECT 'o_orderpriority' AS col_name, o_orderpriority AS category,
        |         o_orderdate < TIMESTAMP '1998-01-01' AS in_a
        |  FROM orders
        |  UNION ALL
        |  SELECT 'o_orderstatus', o_orderstatus,
        |         o_orderdate < TIMESTAMP '1998-01-01'
        |  FROM orders
        |), c AS (
        |  SELECT col_name, category,
        |         SUM(CASE WHEN in_a THEN 1 ELSE 0 END) AS cnt_a,
        |         SUM(CASE WHEN in_a THEN 0 ELSE 1 END) AS cnt_b
        |  FROM src GROUP BY col_name, category
        |), t AS (
        |  SELECT col_name, SUM(cnt_a) AS tot_a, SUM(cnt_b) AS tot_b
        |  FROM c GROUP BY col_name
        |)
        |SELECT c.col_name, c.category,
        |       CAST(c.cnt_a AS BIGINT) AS cnt_a,
        |       CAST(c.cnt_b AS BIGINT) AS cnt_b,
        |       CAST(ABS(c.cnt_a * t.tot_b - c.cnt_b * t.tot_a) * 1000000
        |            // (t.tot_a * t.tot_b) AS BIGINT) AS shift_ppm
        |FROM c JOIN t USING (col_name)
        |ORDER BY col_name, category""".stripMargin) { (s, d) =>
      val o = Tables.orders(s, d)
      val src = o.select(
          (col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
            .as("in_a"),
          explode(array(
            struct(lit("o_orderpriority").as("col_name"),
              col("o_orderpriority").as("category")),
            struct(lit("o_orderstatus").as("col_name"),
              col("o_orderstatus").as("category")))).as("kv"))
        .select(col("kv.col_name").as("col_name"),
          col("kv.category").as("category"), col("in_a"))
      val c = src.groupBy("col_name", "category")
        .agg(sum(when(col("in_a"), 1L).otherwise(0L)).as("cnt_a"),
          sum(when(col("in_a"), 0L).otherwise(1L)).as("cnt_b"))
      val t = c.groupBy("col_name")
        .agg(sum("cnt_a").as("tot_a"), sum("cnt_b").as("tot_b"))
      c.join(broadcast(t), "col_name")
        .select(col("col_name"), col("category"), col("cnt_a"), col("cnt_b"),
          expr("abs(cnt_a * tot_b - cnt_b * tot_a) * 1000000" +
            " div (tot_a * tot_b)").as("shift_ppm"))
        .orderBy("col_name", "category")
    },

    // ── 3-step path mining: the sequences users actually walk ──────────

    // One order past evt_markov's transition matrix: counts of every
    // CONSECUTIVE 3-step event-type path per user stream — the path
    // analysis behind "how do users actually reach purchase?". Two
    // leads in the SAME user window (one user_id shuffle, shared by
    // both lead frames), then a map-side-combined count into a
    // |types|³-bounded matrix; the probability normalization divides
    // integer-fed doubles over the tiny aggregate (evt_markov parity
    // precedent). Window order carries the full (us, event_id,
    // event_type) tie-break — rule 8, ids are not unique.
    Q("evt_path3",
      """WITH e AS (
        |  SELECT user_id, event_type,
        |         epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_id
        |  FROM events
        |), b AS (
        |  SELECT event_type AS e1,
        |         lead(event_type, 1) OVER (PARTITION BY user_id
        |           ORDER BY us, event_id, event_type) AS e2,
        |         lead(event_type, 2) OVER (PARTITION BY user_id
        |           ORDER BY us, event_id, event_type) AS e3
        |  FROM e
        |), m AS (
        |  SELECT e1, e2, e3, COUNT(*) AS n FROM b
        |  WHERE e3 IS NOT NULL GROUP BY e1, e2, e3
        |)
        |SELECT e1, e2, e3, CAST(n AS BIGINT) AS n,
        |       CAST(n AS DOUBLE) / SUM(n) OVER () AS share
        |FROM m ORDER BY e1, e2, e3""".stripMargin) { (s, d) =>
      val w = Window.partitionBy("user_id")
        .orderBy("us", "event_id", "event_type")
      val m = Tables.events(s, d)
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("us"), col("event_id"))
        .withColumn("e2", lead(col("event_type"), 1).over(w))
        .withColumn("e3", lead(col("event_type"), 2).over(w))
        .filter(col("e3").isNotNull)
        .groupBy(col("event_type").as("e1"), col("e2"), col("e3"))
        .agg(count(lit(1)).as("n"))
      m.select(col("e1"), col("e2"), col("e3"), col("n"),
          (col("n").cast("double") /
            sum(col("n")).over(Window.partitionBy())).as("share"))
        .orderBy("e1", "e2", "e3")
    },

    // ── robust anomaly flags: median/MAD instead of mean/σ ─────────────

    // The robust twin of ts_anomaly: a day is anomalous when its daily
    // total deviates from the per-type MEDIAN by more than 2 × 1.4826 ×
    // MAD (the consistency-scaled median absolute deviation). Unlike
    // the z-score, one genuinely broken day cannot drag the baseline
    // toward itself — median and MAD have a 50% breakdown point, which
    // is why data-quality monitors prefer them. Bit-exact across
    // engines with NO decimal division anywhere: both medians are kept
    // DOUBLED (med2 = lo+hi of the middle order stats; mad2 = the same
    // over |2x − med2|, so mad2 = 4·MAD), and the flag cross-multiplies
    // — dev > 2·1.4826·MAD ⇔ 10000·dev2 > 14826·mad2 — in exact
    // decimal. Two rank windows partitioned by event_type over the
    // DAILY aggregate (bounded by span × types, never event count);
    // the same group-skew note as agg_median applies if types are few
    // and the calendar is corpus-scale.
    Q("evt_mad_anomaly",
      """WITH daily AS (
        |  SELECT event_type,
        |         epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
        |         SUM(CAST(value AS DECIMAL(10,4))) AS x
        |  FROM events GROUP BY 1, 2
        |), r1 AS (
        |  SELECT *, row_number() OVER (PARTITION BY event_type
        |              ORDER BY x, day) AS rn,
        |         COUNT(*) OVER (PARTITION BY event_type) AS n
        |  FROM daily
        |), m AS (
        |  SELECT event_type,
        |         SUM(x) * (CASE WHEN COUNT(*) = 1 THEN 2 ELSE 1 END) AS med2
        |  FROM r1 WHERE rn = (n + 1) // 2 OR rn = (n + 2) // 2
        |  GROUP BY event_type
        |), d2 AS (
        |  SELECT r1.event_type, r1.day, r1.x, m.med2,
        |         ABS(2 * r1.x - m.med2) AS dev2
        |  FROM r1 JOIN m USING (event_type)
        |), r2 AS (
        |  SELECT *, row_number() OVER (PARTITION BY event_type
        |              ORDER BY dev2, day) AS rn2,
        |         COUNT(*) OVER (PARTITION BY event_type) AS n2
        |  FROM d2
        |), mm AS (
        |  SELECT event_type,
        |         SUM(dev2) * (CASE WHEN COUNT(*) = 1 THEN 2 ELSE 1 END) AS mad2
        |  FROM r2 WHERE rn2 = (n2 + 1) // 2 OR rn2 = (n2 + 2) // 2
        |  GROUP BY event_type
        |)
        |SELECT d2.event_type, d2.day,
        |       CAST(d2.x AS DOUBLE) AS v,
        |       CAST(d2.med2 AS DOUBLE) / 2 AS med,
        |       CAST(mm.mad2 AS DOUBLE) / 4 AS mad,
        |       10000 * d2.dev2 > 14826 * mm.mad2 AS is_anomaly
        |FROM d2 JOIN mm USING (event_type)
        |ORDER BY d2.event_type, d2.day""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.types.DecimalType
      val daily = Tables.events(s, d)
        .select(col("event_type"),
          expr("unix_micros(ts) div 86400000000").as("day"),
          col("value").cast(DecimalType(10, 4)).as("v"))
        .groupBy("event_type", "day").agg(sum("v").as("x"))
      def med2Of(df: org.apache.spark.sql.DataFrame, v: String,
          out: String): org.apache.spark.sql.DataFrame = {
        val wRank = Window.partitionBy("event_type").orderBy(col(v), col("day"))
        val wN = Window.partitionBy("event_type")
        df.withColumn("rn", row_number().over(wRank))
          .withColumn("n", count(lit(1)).over(wN))
          .filter(col("rn") === expr("(n + 1) div 2") ||
            col("rn") === expr("(n + 2) div 2"))
          .groupBy("event_type")
          .agg((sum(col(v)) *
            when(count(lit(1)) === 1, 2).otherwise(1)).as(out))
      }
      val d2 = daily
        .join(broadcast(med2Of(daily, "x", "med2")), Seq("event_type"))
        .withColumn("dev2", abs(lit(2) * col("x") - col("med2")))
      val mm = med2Of(d2, "dev2", "mad2")
      d2.join(broadcast(mm), Seq("event_type"))
        .select(col("event_type"), col("day"),
          col("x").cast("double").as("v"),
          (col("med2").cast("double") / 2).as("med"),
          (col("mad2").cast("double") / 4).as("mad"),
          (lit(10000) * col("dev2") > lit(14826) * col("mad2"))
            .as("is_anomaly"))
        .orderBy("event_type", "day")
    },

    // ── growth accounting: the DAU ledger ──────────────────────────────

    // Every active user-day classified against the user's PREVIOUS
    // active day: first ever → new, yesterday → retained, a gap →
    // resurrected; churned(d) is yesterday's actives minus today's
    // retained (so new + retained + resurrected = DAU and the ledger
    // balances day over day). The decomposition behind every growth
    // chart — DAU alone can hide a leaky product behind strong
    // acquisition; the ledger cannot. One user_id shuffle for the lag
    // window over the DEDUPED user-day table, then a days-sized
    // aggregate; yesterday's DAU joins back CALENDAR-shifted (day+1)
    // and broadcast, so a calendar gap yields churned = everyone, not
    // a silent last-observed-day comparison. All counts exact BIGINTs.
    Q("evt_lifecycle",
      """WITH ud AS (
        |  SELECT DISTINCT user_id,
        |         epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day
        |  FROM events
        |), c AS (
        |  SELECT user_id, day,
        |         lag(day) OVER (PARTITION BY user_id ORDER BY day) AS prev
        |  FROM ud
        |), byday AS (
        |  SELECT day, COUNT(*) AS dau,
        |         SUM(CASE WHEN prev IS NULL THEN 1 ELSE 0 END) AS new_users,
        |         SUM(CASE WHEN day - prev = 1 THEN 1 ELSE 0 END) AS retained,
        |         SUM(CASE WHEN day - prev > 1 THEN 1 ELSE 0 END)
        |           AS resurrected
        |  FROM c GROUP BY day
        |)
        |SELECT b.day, CAST(b.dau AS BIGINT) AS dau,
        |       CAST(b.new_users AS BIGINT) AS new_users,
        |       CAST(b.retained AS BIGINT) AS retained,
        |       CAST(b.resurrected AS BIGINT) AS resurrected,
        |       CAST(COALESCE(p.dau, 0) - b.retained AS BIGINT) AS churned
        |FROM byday b LEFT JOIN byday p ON b.day = p.day + 1
        |ORDER BY b.day""".stripMargin) { (s, d) =>
      val ud = Tables.events(s, d)
        .select(col("user_id"),
          expr("unix_micros(ts) div 86400000000").as("day"))
        .distinct()
      val w = Window.partitionBy("user_id").orderBy("day")
      val byday = ud
        .withColumn("prev", lag("day", 1).over(w))
        .groupBy("day")
        .agg(count(lit(1)).as("dau"),
          sum(when(col("prev").isNull, 1L).otherwise(0L)).as("new_users"),
          sum(when(col("day") - col("prev") === 1, 1L).otherwise(0L))
            .as("retained"),
          sum(when(col("day") - col("prev") > 1, 1L).otherwise(0L))
            .as("resurrected"))
      byday
        .join(broadcast(byday.select((col("day") + 1).as("day"),
          col("dau").as("dau_prev"))), Seq("day"), "left")
        .select(col("day"), col("dau"), col("new_users"), col("retained"),
          col("resurrected"),
          (coalesce(col("dau_prev"), lit(0L)) - col("retained"))
            .as("churned"))
        .orderBy("day")
    },

    // ── CUSUM changepoint: where did the level shift? ──────────────────

    // The max-type CUSUM statistic per series: the split k that
    // maximizes |n·S_k − k·S_n| over the daily totals — the single
    // most likely LEVEL-SHIFT boundary (a regime change in traffic or
    // a data-feed cut), which spike detectors like ts_anomaly and
    // evt_mad_anomaly are blind to because no single day deviates.
    // The cross-multiplied form needs no mean, no division, no float:
    // prefix sums accumulate in exact decimal inside one
    // day-partitioned window, the deviation is exact decimal, and the
    // argmax tie-breaks on the earliest day — so the located boundary
    // is hash-oracle-able. Means before/after render as integer-fed
    // double divisions only in the final projection. Scale: windows
    // partition by series over the DAILY aggregate (span-bounded);
    // the argmax is one more rank window on the same key.
    Q("ts_changepoint",
      """WITH daily AS (
        |  SELECT event_type,
        |         epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
        |         SUM(CAST(value AS DECIMAL(10,4))) AS x
        |  FROM events GROUP BY 1, 2
        |), o AS (
        |  SELECT event_type, day, x,
        |         SUM(x) OVER (PARTITION BY event_type ORDER BY day) AS sk,
        |         row_number() OVER (PARTITION BY event_type
        |           ORDER BY day) AS k,
        |         COUNT(*) OVER (PARTITION BY event_type) AS n,
        |         SUM(x) OVER (PARTITION BY event_type) AS sn
        |  FROM daily
        |), c AS (
        |  SELECT *, ABS(n * sk - k * sn) AS dev FROM o WHERE k < n
        |), r AS (
        |  SELECT *, row_number() OVER (PARTITION BY event_type
        |           ORDER BY dev DESC, day) AS rr
        |  FROM c
        |)
        |SELECT event_type, day AS cp_day,
        |       CAST(n AS BIGINT) AS n_days,
        |       CAST(dev AS DOUBLE) AS score,
        |       CAST(sk AS DOUBLE) / k AS mean_before,
        |       CAST(sn - sk AS DOUBLE) / (n - k) AS mean_after
        |FROM r WHERE rr = 1 ORDER BY event_type""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.types.DecimalType
      val daily = Tables.events(s, d)
        .select(col("event_type"),
          expr("unix_micros(ts) div 86400000000").as("day"),
          col("value").cast(DecimalType(10, 4)).as("v"))
        .groupBy("event_type", "day").agg(sum("v").as("x"))
      val wDay = Window.partitionBy("event_type").orderBy("day")
      val wAll = Window.partitionBy("event_type")
      val c = daily
        .withColumn("sk", sum("x").over(wDay))
        .withColumn("k", row_number().over(wDay))
        .withColumn("n", count(lit(1)).over(wAll))
        .withColumn("sn", sum("x").over(wAll))
        .filter(col("k") < col("n"))
        .withColumn("dev", abs(col("n") * col("sk") - col("k") * col("sn")))
      c.withColumn("rr", row_number().over(
          Window.partitionBy("event_type").orderBy(col("dev").desc, col("day"))))
        .filter(col("rr") === 1)
        .select(col("event_type"), col("day").as("cp_day"),
          col("n").cast("long").as("n_days"),
          col("dev").cast("double").as("score"),
          (col("sk").cast("double") / col("k")).as("mean_before"),
          ((col("sn") - col("sk")).cast("double") / (col("n") - col("k")))
            .as("mean_after"))
        .orderBy("event_type")
    },

    // ── daily categorical drift vs a frozen reference window ───────────

    // chk_drift compares two epochs once; the MONITOR form compares
    // every day against a frozen reference window (the first 15 days
    // here — in production, the distribution the model was trained
    // on), emitting per (day, category) the exact cross-multiplied
    // share shift in ppm. Same integer discipline as chk_drift (no
    // float share ever exists); categories unseen in the reference
    // keep their rows via the left join with a zero reference count
    // (a NEW category is maximal drift, not a dropped row). The
    // streaming twin is StreamDrift — per-day keyed state, bit-equal
    // on closed days (StreamDriftSpec) — so the same ledger serves
    // the batch backfill and the live dashboard. All joins after the
    // one fact scan are vocabulary- or calendar-sized broadcasts.
    Q("evt_drift_daily", driftDailySql(closedOnly = false)) { (s, d) =>
      val e = Tables.events(s, d)
        .select(col("event_type"),
          expr("unix_micros(ts) div 86400000000").as("day"))
      val ref = e.filter(col("day") < 19738)
        .groupBy("event_type").agg(count(lit(1)).as("rn"))
      val rt = ref.agg(sum("rn").as("rtot"))
      val dy = e.groupBy("day", "event_type").agg(count(lit(1)).as("n"))
      val dt = dy.groupBy("day").agg(sum("n").as("tot"))
      dy.join(broadcast(dt), Seq("day"))
        .join(broadcast(ref), Seq("event_type"), "left")
        .crossJoin(broadcast(rt))
        .select(col("day"), col("event_type"), col("n"),
          col("tot").as("day_total"),
          expr("abs(n * rtot - coalesce(rn, 0L) * tot) * 1000000" +
            " div (rtot * tot)").as("shift_ppm"))
        .orderBy("day", "event_type")
    },

    // ── streaming drift feed, driver-visible (§2.10 in the oracle) ─────

    // StreamDrift's AvailableNow emissions (per-DAY keyed counts
    // against the frozen reference — the sharded-state contract) vs
    // the batch monitor on watermark-closed days: the sixth §2.10
    // correctness row. StreamDriftSpec pins the in-JVM equivalence.
    Q("stream_drift_feed", driftDailySql(closedOnly = true)) { (s, d) =>
      graft.streaming.StreamDrift
        .runAvailableNow(s, d, "stream_drift_feed_sink")
        .orderBy("day", "event_type")
    },

    // ── engagement concentration: Gini per event type ──────────────────

    // How concentrated is activity among users? Gini over per-user
    // event counts via the exact rank identity
    // G = 2·Σᵢ i·xᵢ / (n·Σx) − (n+1)/n on the ascending sort — the
    // whale-dependence number behind "1% of users generate half the
    // traffic". Σ i·x accumulates in exact integers (the rank is a
    // row_number over a (x, user_id)-total order; permuting tied x
    // values cannot change the sum, so determinism is free), and the
    // only float math is two integer-fed divisions with one pinned
    // expression shape. One shuffle for the per-user counts, one
    // type-partitioned rank window over the users-sized aggregate.
    Q("evt_gini",
      """WITH c AS (
        |  SELECT event_type, user_id, COUNT(*) AS x
        |  FROM events GROUP BY event_type, user_id
        |), r AS (
        |  SELECT event_type, x,
        |         row_number() OVER (PARTITION BY event_type
        |           ORDER BY x, user_id) AS i
        |  FROM c
        |), a AS (
        |  SELECT event_type, COUNT(*) AS n, SUM(x) AS s, SUM(i * x) AS ix
        |  FROM r GROUP BY event_type
        |)
        |SELECT event_type, CAST(n AS BIGINT) AS n_users,
        |       CAST(s AS BIGINT) AS total,
        |       CAST(2 * ix AS DOUBLE) / (n * s)
        |         - CAST(n + 1 AS DOUBLE) / n AS gini
        |FROM a ORDER BY event_type""".stripMargin) { (s, d) =>
      val c = Tables.events(s, d)
        .groupBy("event_type", "user_id").agg(count(lit(1)).as("x"))
      val r = c.withColumn("i", row_number().over(
        Window.partitionBy("event_type").orderBy("x", "user_id")))
      r.groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("x").as("s"),
          sum(col("i") * col("x")).as("ix"))
        .select(col("event_type"), col("n").as("n_users"),
          col("s").as("total"),
          ((lit(2) * col("ix")).cast("double") / (col("n") * col("s"))
            - (col("n") + 1).cast("double") / col("n")).as("gini"))
        .orderBy("event_type")
    },

    // ── daily percentile bands: the p50/p95/p99 ops dashboard ──────────

    // Exact per-day order statistics of event value — the latency-band
    // dashboard staple, as DISCrete order stats (the value at rank
    // ⌈q·n⌉) so no engine-specific interpolation exists; the rank is
    // the integer form (q·n + 99) div 100 and the pick rides a
    // (value, event_id)-totally-ordered rank window (rule 8). One
    // day-partitioned window over the scan — at a corpus-scale DAY the
    // same query takes the distributed-rank route winsorizedDistributed
    // demonstrates; sketch_quantile is the bounded-state estimate.
    Q("ts_daily_pct", dailyPctOracleSql) { (s, d) =>
      val e = Tables.events(s, d)
        .select(expr("unix_micros(ts) div 86400000000").as("day"),
          col("value"), col("event_id"))
      val r = e
        .withColumn("rn", row_number().over(
          Window.partitionBy("day").orderBy("value", "event_id")))
        .withColumn("n", count(lit(1)).over(Window.partitionBy("day")))
      r.groupBy("day")
        .agg(max("n").cast("long").as("n"),
          min(when(col("rn") === expr("(n * 50 + 99) div 100"),
            col("value"))).as("p50"),
          min(when(col("rn") === expr("(n * 95 + 99) div 100"),
            col("value"))).as("p95"),
          min(when(col("rn") === expr("(n * 99 + 99) div 100"),
            col("value"))).as("p99"))
        .orderBy("day")
    },

    // The DISTRIBUTED-RANK twin ts_daily_pct's scaladoc promises: same
    // rows, same oracle verbatim (dedup_cc_star / graph_triangles_deg
    // precedent), ZERO Window nodes — per-day ranks recovered from one
    // GLOBAL rank over the composite (day, value, event_id) key
    // (Ranking.globalRowNumber: range-partition + zipWithIndex, two
    // linear passes) turned into per-day ranks by
    // Ranking.withGroupRank. This is the form that survives a
    // corpus-scale DAY — the day-partitioned window sorts an entire
    // day in one task; the global-rank route bounds every task by the
    // session's shuffle partitions regardless of how skewed the days
    // are (plan-guarded windowless).
    Q("ts_daily_pct_dist", dailyPctOracleSql) { (s, d) =>
      val e = Tables.events(s, d)
        .select(expr("unix_micros(ts) div 86400000000").as("day"),
          col("value"), col("event_id"))
      Ranking.withGroupRank(
          Ranking.globalRowNumber(e, Seq("day", "value", "event_id")), "day")
        .groupBy("day")
        .agg(max("n").cast("long").as("n"),
          min(when(col("rk") === expr("(n * 50 + 99) div 100"),
            col("value"))).as("p50"),
          min(when(col("rk") === expr("(n * 95 + 99) div 100"),
            col("value"))).as("p95"),
          min(when(col("rk") === expr("(n * 99 + 99) div 100"),
            col("value"))).as("p99"))
        .orderBy("day")
    },

    // ── RFM segmentation ───────────────────────────────────────────────

    // Recency / Frequency / Monetary quartile scores per user — the
    // classic CRM segmentation (score 4 = best quartile on each axis;
    // rfm = 100·r + 10·f + m names the segment, "444" the champions).
    // Quartile rule pinned EXPLICITLY instead of ntile() (whose
    // uneven-group placement is engine-specific): score =
    // 4 − ((rank−1)·4) div n over the deterministic (metric, user_id)
    // order — pure integer arithmetic, identical in both engines.
    // Scale shape: one user_id aggregate over events (map-side
    // combined), then three global ranks of the USERS-sized table via
    // Ranking.globalRowNumber, a broadcast 1-row (n, anchor) total,
    // and rank arithmetic. Recency
    // anchors to the corpus's own last active day, so the query is a
    // pure function of the data.
    Q("evt_rfm",
      """WITH u AS (
        |  SELECT user_id,
        |         MAX(CAST(ts AS DATE)) AS last_day,
        |         CAST(COUNT(*) AS BIGINT) AS frequency,
        |         SUM(CAST(value AS DECIMAL(10,4))) AS monetary
        |  FROM events GROUP BY user_id
        |), t AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n, MAX(last_day) AS anchor
        |  FROM u
        |), r AS (
        |  SELECT u.user_id,
        |         CAST(date_diff('day', u.last_day, t.anchor) AS BIGINT)
        |           AS recency_days,
        |         u.frequency, u.monetary, t.n,
        |         row_number() OVER (ORDER BY
        |           date_diff('day', u.last_day, t.anchor), u.user_id) AS r_rk,
        |         row_number() OVER (ORDER BY -u.frequency, u.user_id) AS f_rk,
        |         row_number() OVER (ORDER BY -u.monetary, u.user_id) AS m_rk
        |  FROM u, t
        |)
        |SELECT user_id, recency_days, frequency,
        |       CAST(monetary AS DOUBLE) AS monetary,
        |       CAST(4 - ((r_rk - 1) * 4) // n AS INTEGER) AS r_score,
        |       CAST(4 - ((f_rk - 1) * 4) // n AS INTEGER) AS f_score,
        |       CAST(4 - ((m_rk - 1) * 4) // n AS INTEGER) AS m_score,
        |       CAST((4 - ((r_rk - 1) * 4) // n) * 100
        |            + (4 - ((f_rk - 1) * 4) // n) * 10
        |            + (4 - ((m_rk - 1) * 4) // n) AS INTEGER) AS rfm
        |FROM r ORDER BY user_id""".stripMargin) { (s, d) =>
      val u = Tables.events(s, d).groupBy("user_id")
        .agg(max(col("ts").cast("date")).as("last_day"),
          count(lit(1)).as("frequency"),
          sum(col("value").cast("decimal(10,4)")).as("monetary"))
      val t = u.agg(count(lit(1)).as("n"), max("last_day").as("anchor"))
      // persisted (VERDICT r11 #6): each Ranking.globalRowNumber pass
      // drops to the RDD API (zipWithIndex), so the chained three-rank
      // pipeline re-derives its input per pass — without the persist
      // that re-runs the events scan+rollup up to six times (3 passes
      // × zipWithIndex's count+main jobs); with it, events is scanned
      // once and each pass re-reads a users-sized cached stage
      val base = graft.Caches.shared(u.crossJoin(broadcast(t))
        .withColumn("recency_days",
          datediff(col("anchor"), col("last_day")).cast("long"))
        .withColumn("neg_f", -col("frequency"))
        .withColumn("neg_m", -col("monetary")))
      def ranked(df: org.apache.spark.sql.DataFrame, keys: Seq[String],
          as: String) =
        Ranking.globalRowNumber(df, keys)
          .withColumnRenamed("row_num", as)
      val r = ranked(ranked(ranked(base,
        Seq("recency_days", "user_id"), "r_rk"),
        Seq("neg_f", "user_id"), "f_rk"),
        Seq("neg_m", "user_id"), "m_rk")
      r.select(col("user_id"), col("recency_days"), col("frequency"),
          col("monetary").cast("double").as("monetary"),
          expr("cast(4 - ((r_rk - 1) * 4) div n as int)").as("r_score"),
          expr("cast(4 - ((f_rk - 1) * 4) div n as int)").as("f_score"),
          expr("cast(4 - ((m_rk - 1) * 4) div n as int)").as("m_score"),
          expr("""cast((4 - ((r_rk - 1) * 4) div n) * 100
                 + (4 - ((f_rk - 1) * 4) div n) * 10
                 + (4 - ((m_rk - 1) * 4) div n) as int)""").as("rfm"))
        .orderBy("user_id")
    },

    // ── day-of-week seasonal decomposition ─────────────────────────────

    // Classical additive decomposition of per-type daily totals:
    // total = trend (7-day centered moving average) + seasonal
    // (day-of-week mean of the detrended series) + residual — the
    // "is Monday always low, or is this Monday BROKEN?" separation
    // that raw anomaly flags (ts_anomaly) can't make on seasonal
    // traffic. Exactness discipline: the trend division by 7 never
    // happens in the pipeline — detrended values are carried ×7
    // (7·total − sum7, exact decimal), the seasonal mean is carried as
    // an exact (Σ, 7·count) pair, and each output renders through ONE
    // pinned double expression. The MA frame is RANGE over the integer
    // epoch day (ts_moving_avg_range's rule: ROWS misaligns on gapped
    // series) and only full 7-day frames define a trend. Scale shape:
    // daily totals pre-aggregate map-side; one event_type-partitioned
    // window; the seasonal table is |types|×7 rows — broadcast back.
    Q("ts_seasonal_dow",
      """WITH dly AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |         SUM(CAST(value AS DECIMAL(10,4))) AS total
        |  FROM events GROUP BY 1, 2
        |), de AS (
        |  SELECT *, date_diff('day', DATE '1970-01-01', day) AS ed FROM dly
        |), w AS (
        |  SELECT event_type, day, ed, total,
        |         SUM(total) OVER sw AS sum7,
        |         COUNT(*) OVER sw AS n7
        |  FROM de WINDOW sw AS (PARTITION BY event_type ORDER BY ed
        |                        RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING)
        |), sea AS (
        |  SELECT event_type, ed % 7 AS dow,
        |         SUM(7 * total - sum7) AS s_num,
        |         7 * CAST(COUNT(*) AS BIGINT) AS s_den
        |  FROM w WHERE n7 = 7 GROUP BY 1, 2
        |)
        |SELECT w.event_type, CAST(w.day AS DATE) AS day,
        |       CAST(w.ed % 7 AS BIGINT) AS dow,
        |       CAST(w.total AS DOUBLE) AS total,
        |       CASE WHEN w.n7 = 7
        |            THEN CAST(w.sum7 AS DOUBLE) / 7.0 END AS trend,
        |       CAST(s.s_num AS DOUBLE) / CAST(s.s_den AS DOUBLE) AS seasonal,
        |       CASE WHEN w.n7 = 7 AND s.s_num IS NOT NULL
        |            THEN CAST(w.total AS DOUBLE) - CAST(w.sum7 AS DOUBLE) / 7.0
        |                 - CAST(s.s_num AS DOUBLE) / CAST(s.s_den AS DOUBLE)
        |            END AS residual
        |FROM w LEFT JOIN sea s
        |  ON s.event_type = w.event_type AND s.dow = w.ed % 7
        |ORDER BY w.event_type, day""".stripMargin) { (s, d) =>
      val dly = Tables.events(s, d)
        .groupBy(col("event_type"), col("ts").cast("date").as("day"))
        .agg(sum(col("value").cast("decimal(10,4)")).as("total"))
        .withColumn("ed",
          datediff(col("day"), to_date(lit("1970-01-01"))).cast("long"))
      val sw = Window.partitionBy("event_type").orderBy("ed")
        .rangeBetween(-3, 3)
      val w = dly
        .withColumn("sum7", sum("total").over(sw))
        .withColumn("n7", count(lit(1)).over(sw))
      val sea = w.filter(col("n7") === 7)
        .groupBy(col("event_type").as("sea_type"), expr("ed % 7").as("dow"))
        .agg(sum(expr("7 * total - sum7")).as("s_num"),
          (lit(7) * count(lit(1))).as("s_den"))
        // fresh lineage: sea derives from w, and the rejoin below would
        // otherwise trip Spark's ambiguous-self-join analysis
        .select(col("sea_type"), col("dow"), col("s_num"), col("s_den"))
      w.join(broadcast(sea),
          col("event_type") === col("sea_type") &&
            col("dow") === expr("ed % 7"), "left")
        .select(col("event_type"), col("day"),
          expr("cast(ed % 7 as bigint)").as("dow"),
          col("total").cast("double").as("total"),
          when(col("n7") === 7, col("sum7").cast("double") / lit(7.0))
            .as("trend"),
          (col("s_num").cast("double") / col("s_den").cast("double"))
            .as("seasonal"),
          when(col("n7") === 7 && col("s_num").isNotNull,
            col("total").cast("double") - col("sum7").cast("double") / lit(7.0)
              - col("s_num").cast("double") / col("s_den").cast("double"))
            .as("residual"))
        .orderBy("event_type", "day")
    },

    // ── time-to-convert distribution ───────────────────────────────────

    // Days from a user's FIRST event to their FIRST purchase, as a
    // day-bucket histogram — the activation-latency curve growth teams
    // read next to the funnel. One user_id aggregate computes both
    // firsts as conditional minima (no per-stage self-joins — same
    // single-shuffle discipline as evt_funnel), then the histogram is a
    // calendar-sized second aggregate. All math is exact integral
    // microseconds; buy_us ≥ first_us by construction so DuckDB's
    // flooring // and Spark's truncating div agree.
    Q("evt_time_to_convert",
      """WITH u AS (
        |  SELECT user_id,
        |         MIN(epoch_us(CAST(ts AS TIMESTAMP))) AS first_us,
        |         MIN(CASE WHEN event_type = 'purchase'
        |             THEN epoch_us(CAST(ts AS TIMESTAMP)) END) AS buy_us
        |  FROM events GROUP BY user_id
        |)
        |SELECT CAST((buy_us - first_us) // 86400000000 AS BIGINT)
        |         AS days_to_convert,
        |       CAST(COUNT(*) AS BIGINT) AS n_users,
        |       CAST(MIN(buy_us - first_us) AS BIGINT) AS min_us,
        |       CAST(MAX(buy_us - first_us) AS BIGINT) AS max_us
        |FROM u WHERE buy_us IS NOT NULL
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val u = Tables.events(s, d)
        .groupBy("user_id")
        .agg(min(unix_micros(col("ts"))).as("first_us"),
          min(when(col("event_type") === "purchase", unix_micros(col("ts"))))
            .as("buy_us"))
      u.filter(col("buy_us").isNotNull)
        .withColumn("lat", col("buy_us") - col("first_us"))
        .groupBy(expr("lat div 86400000000").as("days_to_convert"))
        .agg(count(lit(1)).as("n_users"), min("lat").as("min_us"),
          max("lat").as("max_us"))
        .orderBy("days_to_convert")
    },

    // ── exponentially weighted moving average (dyadic, exact) ──────────

    // EWMA of daily revenue with α = 1/2 over a trailing 10-day calendar
    // window. EWMA is inherently recursive — the scale-hostile forms are
    // a sequential scan (single task) or a float window sum (order-
    // dependent across engines). Both dissolve under DYADIC weights:
    // w_k = 2^(9−k) is an exact BIGINT, so numerator and denominator
    // are exact integer sums over the ≤10 contributing days and the
    // division is ONE pinned double op. The calendar shift is the same
    // broadcast-lag-table equi-join as ts_acf (zero windows, zero
    // sequential stages; missing days simply contribute nothing and the
    // denominator renormalizes). Truncating the tail at k=9 bounds the
    // weight error at 2⁻¹⁰ of the open-ended EWMA — below the cent.
    Q("ts_ewma",
      """WITH dly AS (
        |  SELECT date_diff('day', DATE '1992-01-01',
        |           CAST(o_orderdate AS DATE)) AS di,
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(12,4))) * 100
        |           AS BIGINT) AS cents
        |  FROM orders GROUP BY 1
        |), lags AS (
        |  SELECT k, CAST(power(2, 9 - k) AS BIGINT) AS w
        |  FROM (SELECT unnest(generate_series(0, 9)) AS k)
        |), c AS (
        |  SELECT t.di, s.cents, l.w
        |  FROM dly t JOIN lags l ON TRUE
        |  JOIN dly s ON s.di = t.di - l.k
        |)
        |SELECT CAST(di AS BIGINT) AS di,
        |       CAST(COUNT(*) AS BIGINT) AS n_src,
        |       CAST(CAST(SUM(cents * w) AS BIGINT) AS DOUBLE)
        |         / CAST(SUM(w) AS BIGINT) / 100 AS ewma
        |FROM c GROUP BY di ORDER BY di""".stripMargin) { (s, d) =>
      val dly = Tables.orders(s, d)
        .groupBy(datediff(col("o_orderdate").cast("date"),
          to_date(lit("1992-01-01"))).as("di"))
        .agg((sum(col("o_totalprice").cast(Tables.M)) * 100)
          .cast("long").as("cents"))
      val lags = s.range(0, 10).select(col("id").as("k"),
        pow(lit(2), lit(9) - col("id")).cast("long").as("w"))
      val contrib = dly.select(col("di").as("sdi"), col("cents"))
        .crossJoin(broadcast(lags))
        .select((col("sdi") + col("k")).as("di"), col("cents"), col("w"))
      dly.select(col("di").cast("long").as("di"))
        .join(contrib, Seq("di"))
        .groupBy("di")
        .agg(count(lit(1)).as("n_src"),
          sum(col("cents") * col("w")).as("num"), sum("w").as("den"))
        .select(col("di"), col("n_src"),
          (col("num").cast("double") / col("den") / 100).as("ewma"))
        .orderBy("di")
    }
  )

  /** ts_daily_pct's oracle, shared verbatim by ts_daily_pct_dist (the
    * answer is algorithm-independent). LAZY: declared below `queries`
    * (object init order — the graph_lpa lesson). */
  private lazy val dailyPctOracleSql: String =
    """WITH e AS (
      |  SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
      |         value, event_id
      |  FROM events
      |), r AS (
      |  SELECT day, value,
      |         row_number() OVER (PARTITION BY day
      |           ORDER BY value, event_id) AS rn,
      |         COUNT(*) OVER (PARTITION BY day) AS n
      |  FROM e
      |)
      |SELECT day, CAST(MAX(n) AS BIGINT) AS n,
      |       MIN(CASE WHEN rn = (n * 50 + 99) // 100 THEN value END) AS p50,
      |       MIN(CASE WHEN rn = (n * 95 + 99) // 100 THEN value END) AS p95,
      |       MIN(CASE WHEN rn = (n * 99 + 99) // 100 THEN value END) AS p99
      |FROM r GROUP BY day ORDER BY day""".stripMargin
}
