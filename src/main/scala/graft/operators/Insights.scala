package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Q, Tables}

/** Cross-cutting BI / data-science operators layered on the same fixture
  * tables: OLAP cube subtotals, distributed quantile bucketing (ntile
  * without a global window), inter-event gap statistics, linear gap
  * interpolation, series autocorrelation, an A/B-test z-score, monthly
  * stickiness, a referential-integrity audit, and the co-purchase degree
  * distribution. The reference's report layer computes these shapes
  * downstream of its extracts (/root/reference/src/DataObject.ts:114-141
  * pivots + probes per-department aggregates); here they are first-class
  * engine queries.
  *
  * Engine-parity rules (shared with Analytics): money stays DECIMAL
  * until ONE final double cast; any float output is a single pinned
  * expression over exact integer/decimal aggregates (no double
  * accumulation anywhere); date bucketing is integer day arithmetic or
  * month truncation available identically in both engines.
  *
  * Scale notes are per-query; the recurring theme is that nothing here
  * introduces a global single-task stage: the one "global" ordering
  * (spend deciles) rides [[Ranking.globalRowNumber]]'s range-partition +
  * zipWithIndex kernel, not an unpartitioned Window.
  */
object Insights {

  /** Deterministic last-observation-per-day pick + per-user day grid —
    * the shared spine of ts_interp_linear (and the LOCF twin
    * ts_gapfill in Temporal). */
  private def dayGrid(s: org.apache.spark.sql.SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    val byDay = Tables.events(s, d)
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"), col("value"))
      .withColumn("day", expr("us div 86400000000"))
    val wLast = Window.partitionBy("user_id", "day")
      .orderBy(col("us").desc, col("event_id").desc, col("value").desc)
    val dayVal = byDay.withColumn("rn", row_number().over(wLast))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("day"), col("value").as("day_value"))
    val grid = byDay.groupBy("user_id")
      .agg(min("day").as("d0"), max("day").as("d1"))
      .select(col("user_id"), explode(sequence(col("d0"), col("d1"))).as("day"))
    (grid, dayVal)
  }

  /** Shared STL-lite decomposition kernel (ts_stl + ts_stl_anomaly):
    * per (event_type, interior day) the additive components
    * (actual, trend, seasonal, residual) as pinned doubles over exact
    * DECIMAL daily totals — see ts_stl's scaladoc for the parity
    * argument. */
  private def stlParts(s: org.apache.spark.sql.SparkSession, d: String)
      : DataFrame = {
    val dly = Tables.events(s, d)
      .groupBy(col("event_type"),
        datediff(col("ts").cast("date"), lit("1970-01-01")).as("d"))
      .agg(sum(col("value").cast("decimal(10,4)")).as("v"))
    val w = Window.partitionBy("event_type").orderBy("d")
      .rangeBetween(-3, 3)
    val interior = dly
      .select(col("event_type"), col("d"), col("v"),
        sum("v").over(w).as("t_sum"), count(lit(1)).over(w).as("t_cnt"))
      .filter(col("t_cnt") === 7)
      .select(col("event_type"), col("d"), (col("d") % 7).as("dow"),
        col("v"), col("t_sum"), (col("v") * 7 - col("t_sum")).as("dn"))
    val seas = interior.groupBy("event_type", "dow")
      .agg((sum("dn").cast("double") / (count(lit(1)) * 7))
        .as("seasonal"))
    val trend = col("t_sum").cast("double") / 7
    interior.join(broadcast(seas), Seq("event_type", "dow"))
      .select(col("event_type"), col("d").cast("long").as("d"),
        col("v").cast("double").as("actual"), trend.as("trend"),
        col("seasonal"),
        (col("v").cast("double") - trend - col("seasonal"))
          .as("residual"))
  }

  /** SQL mirror of [[stlParts]] as a CTE chain ending in
    * `stl(event_type, d, actual, trend, seasonal, residual)`. */
  private val stlSql: String =
    """stl_dly AS (
      |  SELECT event_type,
      |         (CAST(ts AS DATE) - DATE '1970-01-01') AS d,
      |         SUM(CAST(value AS DECIMAL(10,4))) AS v
      |  FROM events GROUP BY 1, 2
      |), stl_tr AS (
      |  SELECT event_type, d, v,
      |         SUM(v) OVER w AS t_sum,
      |         CAST(COUNT(*) OVER w AS BIGINT) AS t_cnt
      |  FROM stl_dly
      |  WINDOW w AS (PARTITION BY event_type ORDER BY d
      |               RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING)
      |), stl_int AS (
      |  SELECT event_type, d, d % 7 AS dow, v, t_sum,
      |         v * 7 - t_sum AS dn
      |  FROM stl_tr WHERE t_cnt = 7
      |), stl_seas AS (
      |  SELECT event_type, dow,
      |         CAST(CAST(SUM(dn) AS DOUBLE)
      |              / (7 * COUNT(*)) AS DOUBLE) AS seasonal
      |  FROM stl_int GROUP BY 1, 2
      |), stl AS (
      |  SELECT i.event_type, CAST(i.d AS BIGINT) AS d,
      |         CAST(i.v AS DOUBLE) AS actual,
      |         CAST(CAST(i.t_sum AS DOUBLE) / 7 AS DOUBLE) AS trend,
      |         s.seasonal,
      |         CAST(CAST(i.v AS DOUBLE)
      |              - CAST(CAST(i.t_sum AS DOUBLE) / 7 AS DOUBLE)
      |              - s.seasonal AS DOUBLE) AS residual
      |  FROM stl_int i
      |  JOIN stl_seas s ON i.event_type = s.event_type AND i.dow = s.dow
      |)""".stripMargin

  /** Shared exact-integer user spine of the causal trio (evt_ab_cuped /
    * evt_matched_lift / evt_did): per user the arm (user_id % 2), the
    * PRE- and POST-midpoint purchase revenues as BIGINT
    * ten-thousandths, and the pre-period activity stratum (distinct
    * active days). The calendar midpoint is a 1-row broadcast scalar,
    * never a literal. One map-side-combined rollup touches events. */
  private def causalUsers(s: org.apache.spark.sql.SparkSession, d: String)
      : DataFrame = {
    val epochDay = datediff(col("ts").cast("date"), lit("1970-01-01"))
    val mid = Tables.events(s, d)
      .agg((((min(epochDay) + max(epochDay) + 1) / 2).cast("int"))
        .as("m"))
    val vDec = col("value").cast("decimal(10,4)")
    Tables.events(s, d)
      .crossJoin(broadcast(mid))
      .groupBy("user_id")
      .agg(
        (sum(when(col("event_type") === "purchase" &&
            epochDay < col("m"), vDec).otherwise(lit(0))) * 10000)
          .cast("long").as("x"),
        (sum(when(col("event_type") === "purchase" &&
            epochDay >= col("m"), vDec).otherwise(lit(0))) * 10000)
          .cast("long").as("y"),
        count_distinct(when(epochDay < col("m"), col("ts").cast("date")))
          .as("stratum"))
      .withColumn("grp", (col("user_id") % 2).cast("int"))
  }

  /** [[causalUsers]] through the session-shared cache (VERDICT r14 #6,
    * the coEdges discipline): seven queries (evt_ab_cuped,
    * evt_matched_lift, evt_did, evt_ipw_lift, evt_score_auc,
    * evt_calibration_curve, evt_uplift_qini) embed this exact
    * subplan — uncached, each re-scanned and re-aggregated the whole
    * events table per execution. One construction point; every
    * consumer's column pruning happens ABOVE the cached stage. */
  private def causalUsersShared(s: org.apache.spark.sql.SparkSession,
      d: String): DataFrame = graft.Caches.shared(causalUsers(s, d))

  /** SQL mirror of [[causalUsers]]: `mid` + `u(user_id, grp, x, y,
    * stratum)` CTEs. */
  private val causalUsersSql: String =
    """mid AS (
      |  SELECT (MIN(CAST(ts AS DATE) - DATE '1970-01-01')
      |          + MAX(CAST(ts AS DATE) - DATE '1970-01-01') + 1) // 2
      |           AS m
      |  FROM events
      |), u AS (
      |  SELECT user_id, CAST(user_id % 2 AS INTEGER) AS grp,
      |         CAST(SUM(CASE WHEN event_type = 'purchase'
      |                        AND (CAST(ts AS DATE) - DATE '1970-01-01')
      |                            < (SELECT m FROM mid)
      |                   THEN CAST(value AS DECIMAL(10,4)) ELSE 0 END)
      |              * 10000 AS BIGINT) AS x,
      |         CAST(SUM(CASE WHEN event_type = 'purchase'
      |                        AND (CAST(ts AS DATE) - DATE '1970-01-01')
      |                            >= (SELECT m FROM mid)
      |                   THEN CAST(value AS DECIMAL(10,4)) ELSE 0 END)
      |              * 10000 AS BIGINT) AS y,
      |         CAST(COUNT(DISTINCT CASE
      |                WHEN (CAST(ts AS DATE) - DATE '1970-01-01')
      |                     < (SELECT m FROM mid)
      |                THEN CAST(ts AS DATE) END) AS BIGINT) AS stratum
      |  FROM events GROUP BY user_id
      |)""".stripMargin

  /** Anti-join orphan count for one FK edge, as a 1-row frame. Parents
    * that are genuine dimensions broadcast; fact→fact edges (lineitem→
    * orders) hash-join on the key both sides are bucketed by at scale. */
  private def orphans(name: String, child: DataFrame, ck: String,
      parent: DataFrame, pk: String, bcast: Boolean): DataFrame = {
    val p0 = parent.select(col(pk)).distinct()
    val p = if (bcast) broadcast(p0) else p0
    child.select(col(ck))
      .join(p, col(ck) === col(pk), "left_anti")
      .agg(count(lit(1)).as("n_orphans"))
      .select(lit(name).as("fk"), col("n_orphans"))
  }

  /** evt_srm_trace's oracle, optionally restricted to days CLOSED by
    * the final stream watermark (max event time, delay 0, ms-floored) —
    * the shared text keeps the batch query and its driver-visible
    * streaming feed (stream_srm_feed) oracling the same computation. */
  private def srmSql(closedOnly: Boolean): String = {
    val closed = if (closedOnly)
      """
        |WHERE epoch_us(CAST(day AS TIMESTAMP)) + 86400000000
        |        <= (SELECT (MAX(epoch_us(CAST(ts AS TIMESTAMP))) // 1000)
        |            * 1000 FROM events)""".stripMargin
    else ""
    s"""WITH ud AS (
       |  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
       |), g AS (
       |  SELECT day,
       |         CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
       |           AS BIGINT) AS n_a,
       |         CAST(SUM(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END)
       |           AS BIGINT) AS n_b
       |  FROM ud GROUP BY day
       |)
       |SELECT day, n_a, n_b,
       |       CAST(CAST((n_a - n_b) * (n_a - n_b) AS DOUBLE)
       |            / (n_a + n_b) AS DOUBLE) AS chi2,
       |       (n_a - n_b) * (n_a - n_b) * 1000 > 3841 * (n_a + n_b)
       |         AS srm_flag
       |FROM g$closed ORDER BY day""".stripMargin
  }

  val queries: Seq[Q] = Seq(

    // ── OLAP cube: priority × status subtotals ─────────────────────────

    // The classic report cube: every (priority, status) cell plus both
    // one-way margins plus the grand total in ONE pass — Spark expands
    // the grouping sets BEFORE the exchange, so partial aggregation is
    // still map-side and the shuffle carries (key, gid) pairs, not the
    // raw fact. gid is the explicit bit formula (priority→2, status→1)
    // rather than grouping_id() so the Spark and DuckDB columns are
    // constructed identically.
    Q("agg_cube",
      """SELECT CAST(grouping(o_orderpriority) * 2 + grouping(o_orderstatus)
        |         AS BIGINT) AS gid,
        |       o_orderpriority AS priority, o_orderstatus AS status,
        |       CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,4))) AS DOUBLE)
        |         AS total
        |FROM orders
        |GROUP BY CUBE(o_orderpriority, o_orderstatus)
        |ORDER BY gid, priority, status""".stripMargin) { (s, d) =>
      Tables.orders(s, d)
        .select(col("o_orderpriority").as("priority"),
          col("o_orderstatus").as("status"), col("o_totalprice"))
        .cube("priority", "status")
        .agg(
          (grouping(col("priority")) * 2 + grouping(col("status")))
            .cast("long").as("gid"),
          count(lit(1)).as("n"),
          sum(col("o_totalprice").cast(Tables.M)).cast("double").as("total"))
        .select("gid", "priority", "status", "n", "total")
        .orderBy("gid", "priority", "status")
    },

    // ── explicit GROUPING SETS (the mixed-subtotal report) ─────────────

    // The grouping-sets surface CUBE/ROLLUP can't express: exactly the
    // subtotal combinations the report wants — here ((priority,status),
    // (priority), ()) — skipping the (status) margin a CUBE would also
    // compute (and at 100 TB, also SHUFFLE: each extra set is another
    // Expand replica of the fact rows, so explicit sets are the cost
    // lever, not just a formatting choice). Same single-Expand →
    // map-side-combined hash agg plan as agg_cube; same explicit gid
    // bit formula so both engines construct the id identically.
    Q("agg_grouping_sets",
      """SELECT CAST(grouping(o_orderpriority) * 2 + grouping(o_orderstatus)
        |         AS BIGINT) AS gid,
        |       o_orderpriority AS priority, o_orderstatus AS status,
        |       CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,4))) AS DOUBLE)
        |         AS total
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus),
        |                        (o_orderpriority), ())
        |ORDER BY gid, priority, status""".stripMargin) { (s, d) =>
      Tables.orders(s, d)
        .select(col("o_orderpriority").as("priority"),
          col("o_orderstatus").as("status"), col("o_totalprice"))
        .groupingSets(
          Seq(Seq(col("priority"), col("status")), Seq(col("priority")),
            Seq()),
          col("priority"), col("status"))
        .agg(
          (grouping(col("priority")) * 2 + grouping(col("status")))
            .cast("long").as("gid"),
          count(lit(1)).as("n"),
          sum(col("o_totalprice").cast(Tables.M)).cast("double").as("total"))
        .select("gid", "priority", "status", "n", "total")
        .orderBy("gid", "priority", "status")
    },

    // ── customer spend deciles WITHOUT a global window ─────────────────

    // ntile(10) over all customers by spend. The textbook form is a
    // no-PARTITION window — one task sorts every customer at 100 TB.
    // Here the global rank comes from Ranking.globalRowNumber, and
    // ntile's larger-buckets-first arithmetic is recovered from (rank,
    // n) in closed form, so the oracle can use native ntile() while the
    // engine never materializes a single-task sort. n arrives via a
    // broadcast-of-one-row scalar join (the repo's standard pattern).
    Q("win_decile_spend",
      """WITH sp AS (
        |  SELECT o_custkey AS custkey,
        |         SUM(CAST(o_totalprice AS DECIMAL(12,4))) AS spend
        |  FROM orders GROUP BY o_custkey
        |), t AS (
        |  SELECT custkey, spend,
        |         ntile(10) OVER (ORDER BY spend, custkey) AS decile
        |  FROM sp
        |)
        |SELECT CAST(decile AS BIGINT) AS decile,
        |       CAST(COUNT(*) AS BIGINT) AS n_cust,
        |       CAST(MIN(spend) AS DOUBLE) AS lo,
        |       CAST(MAX(spend) AS DOUBLE) AS hi,
        |       CAST(SUM(spend) AS DOUBLE) AS total
        |FROM t GROUP BY decile ORDER BY decile""".stripMargin) { (s, d) =>
      val sp = Tables.orders(s, d)
        .groupBy(col("o_custkey").as("custkey"))
        .agg(sum(col("o_totalprice").cast(Tables.M)).as("spend"))
      val ranked = Ranking.globalRowNumber(sp, Seq("spend", "custkey"))
      val cnt = sp.agg(count(lit(1)).as("n"))
      ranked.crossJoin(broadcast(cnt))
        // SQL ntile(k): first n%k buckets hold n div k + 1 rows, the
        // rest n div k — recovered in closed form from the 1-based rank
        .withColumn("decile",
          when(expr("n div 10") === 0, col("row_num"))
            .when(col("row_num") <= (expr("n div 10") + 1) * (col("n") % 10),
              expr("(row_num - 1) div (n div 10 + 1) + 1"))
            .otherwise(expr(
              "n % 10 + (row_num - (n div 10 + 1) * (n % 10) - 1) " +
                "div (n div 10) + 1")))
        .groupBy("decile")
        .agg(count(lit(1)).as("n_cust"),
          min("spend").cast("double").as("lo"),
          max("spend").cast("double").as("hi"),
          sum("spend").cast("double").as("total"))
        .orderBy("decile")
    },

    // ── inter-order gap statistics per customer ────────────────────────

    // Days between consecutive orders — the repurchase-cadence feature
    // behind churn models. One lag window partitioned by customer
    // (bounded by a customer's order count, never corpus-scale), tie
    // broken by orderkey so same-day orders are deterministic; all
    // outputs are exact integer day arithmetic.
    // ── value-domain RANGE frame (peer-band aggregation) ───────────────

    // The fourth and last frame type the registry exercises (ROWS;
    // time-RANGE in ts_moving_avg_range; strict-forward RANGE in
    // evt_window_funnel; and here a SYMMETRIC VALUE-domain band): for
    // every order, how many of the SAME customer's orders fall within
    // ±500 of its price, and their exact share of that customer's
    // spend — the peer-band/price-clustering question ROWS frames
    // cannot phrase (rows count neighbors by rank, RANGE by value
    // distance, and they disagree whenever prices gap or tie). Frame
    // bounds on the DOUBLE order key are exact: ±500 shifts of
    // 2-decimal prices are exactly representable, so both engines
    // resolve identical frames. Scale shape: one customer-partitioned
    // window (partitions bounded by a customer's order count — the
    // win_order_gap contract); sums stay DECIMAL until the final
    // share division.
    Q("win_value_band",
      """SELECT o_orderkey, o_custkey, o_totalprice,
        |       CAST(COUNT(*) OVER w AS BIGINT) AS n_band,
        |       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,4))) OVER w
        |                 AS DOUBLE)
        |            / CAST(SUM(CAST(o_totalprice AS DECIMAL(12,4)))
        |                 OVER (PARTITION BY o_custkey) AS DOUBLE)
        |         AS DOUBLE) AS band_share
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice
        |             RANGE BETWEEN 500 PRECEDING AND 500 FOLLOWING)
        |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      val w = Window.partitionBy("o_custkey").orderBy("o_totalprice")
        .rangeBetween(-500L, 500L)
      val wAll = Window.partitionBy("o_custkey")
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          count(lit(1)).over(w).as("n_band"),
          (sum(col("o_totalprice").cast(Tables.M)).over(w).cast("double") /
            sum(col("o_totalprice").cast(Tables.M)).over(wAll)
              .cast("double")).as("band_share"))
        .orderBy("o_orderkey")
    },

    Q("win_order_gap",
      """WITH o AS (
        |  SELECT o_custkey AS custkey, CAST(o_orderdate AS DATE) AS day,
        |         o_orderkey
        |  FROM orders
        |), g AS (
        |  SELECT custkey,
        |         date_diff('day',
        |           lag(day) OVER (PARTITION BY custkey
        |                          ORDER BY day, o_orderkey),
        |           day) AS gap
        |  FROM o
        |)
        |SELECT custkey, CAST(COUNT(*) AS BIGINT) AS n_gaps,
        |       CAST(MIN(gap) AS BIGINT) AS min_gap,
        |       CAST(MAX(gap) AS BIGINT) AS max_gap,
        |       CAST(SUM(gap) AS BIGINT) AS total_gap
        |FROM g WHERE gap IS NOT NULL
        |GROUP BY custkey ORDER BY custkey""".stripMargin) { (s, d) =>
      val o = Tables.orders(s, d).select(
        col("o_custkey").as("custkey"),
        col("o_orderdate").cast("date").as("day"), col("o_orderkey"))
      val w = Window.partitionBy("custkey").orderBy(col("day"), col("o_orderkey"))
      o.withColumn("gap",
          datediff(col("day"), lag(col("day"), 1).over(w)).cast("long"))
        .filter(col("gap").isNotNull)
        .groupBy("custkey")
        .agg(count(lit(1)).as("n_gaps"), min("gap").as("min_gap"),
          max("gap").as("max_gap"), sum("gap").as("total_gap"))
        .orderBy("custkey")
    },

    // ── linear interpolation onto the daily grid ───────────────────────

    // ts_gapfill's sibling: unobserved days take the LINE between the
    // surrounding observations instead of carrying the last one forward
    // — the resample mode for continuous signals (sensor means, prices)
    // where LOCF introduces staircase bias. Same bounded per-user grid
    // (span × users, not event count); anchors come from two
    // user-partitioned ignore-nulls windows; the interpolation itself
    // is ONE pinned double expression per row (value is already a
    // double — no accumulation, so engine parity is exact). Grid edges
    // are always observed (the grid spans min..max observed day), so
    // both anchors exist on every row.
    Q("ts_interp_linear",
      """WITH ev AS (
        |  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
        |         value
        |  FROM events
        |), d AS (
        |  SELECT user_id, us // 86400000000 AS day, us, event_id, value FROM ev
        |), dv AS (
        |  SELECT user_id, day, value AS day_value FROM (
        |    SELECT *, row_number() OVER (PARTITION BY user_id, day
        |              ORDER BY us DESC, event_id DESC, value DESC) AS rn
        |    FROM d) x WHERE rn = 1
        |), grid AS (
        |  SELECT user_id, unnest(generate_series(min(day), max(day))) AS day
        |  FROM d GROUP BY user_id
        |), j AS (
        |  SELECT g.user_id, g.day, dv.day_value,
        |         last_value(dv.day_value IGNORE NULLS) OVER w_prev AS pv,
        |         last_value(CASE WHEN dv.day_value IS NOT NULL THEN g.day END
        |           IGNORE NULLS) OVER w_prev AS pd,
        |         first_value(dv.day_value IGNORE NULLS) OVER w_next AS nv,
        |         first_value(CASE WHEN dv.day_value IS NOT NULL THEN g.day END
        |           IGNORE NULLS) OVER w_next AS nd
        |  FROM grid g LEFT JOIN dv
        |    ON g.user_id = dv.user_id AND g.day = dv.day
        |  WINDOW
        |    w_prev AS (PARTITION BY g.user_id ORDER BY g.day
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |    w_next AS (PARTITION BY g.user_id ORDER BY g.day
        |               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
        |)
        |SELECT user_id, day,
        |       CAST(CASE WHEN day_value IS NOT NULL THEN day_value
        |                 ELSE pv + (nv - pv) * CAST(day - pd AS DOUBLE)
        |                             / CAST(nd - pd AS DOUBLE)
        |            END AS DOUBLE) AS value_interp,
        |       day_value IS NOT NULL AS observed
        |FROM j ORDER BY user_id, day""".stripMargin) { (s, d) =>
      val (grid, dayVal) = dayGrid(s, d)
      val wP = Window.partitionBy("user_id").orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wN = Window.partitionBy("user_id").orderBy("day")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      grid.join(dayVal, Seq("user_id", "day"), "left")
        .select(col("user_id"), col("day"), col("day_value"),
          last(col("day_value"), ignoreNulls = true).over(wP).as("pv"),
          last(when(col("day_value").isNotNull, col("day")),
            ignoreNulls = true).over(wP).as("pd"),
          first(col("day_value"), ignoreNulls = true).over(wN).as("nv"),
          first(when(col("day_value").isNotNull, col("day")),
            ignoreNulls = true).over(wN).as("nd"))
        .select(col("user_id"), col("day"),
          when(col("day_value").isNotNull, col("day_value"))
            .otherwise(col("pv") + (col("nv") - col("pv"))
              * (col("day") - col("pd")).cast("double")
              / (col("nd") - col("pd")).cast("double"))
            .as("value_interp"),
          col("day_value").isNotNull.as("observed"))
        .orderBy("user_id", "day")
    },

    // ── autocorrelation of daily revenue (lags 1..7) ────────────────────

    // Pearson r between the daily-revenue series and itself shifted by
    // k CALENDAR days (missing days simply pair nothing — no imputation
    // baked into the statistic). Window-free by design: the shift is an
    // EQUI-join on an integer day index against a 7-row broadcast lag
    // table, so the series never funnels through one task. The series
    // is QUANTIZED to integer $1000 units first: with cent-precision
    // sums, Σxy ≈ 10²¹ exceeds 2⁵³ and the decimal→double cast rounds
    // DIFFERENTLY across engines (measured ~10⁻¹⁶ relative drift —
    // DuckDB's int128→double is not correctly rounded at that
    // magnitude); in $1000 units every sufficient statistic stays an
    // int64 below 2⁵³, so every double cast is EXACT and r is bit-equal
    // by construction. Floor-div parity: both operands are non-negative,
    // where DuckDB's flooring // and Spark's truncating div agree.
    Q("ts_acf",
      """WITH dly AS (
        |  SELECT date_diff('day', DATE '1992-01-01',
        |           CAST(o_orderdate AS DATE)) AS di,
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(12,4))) * 100
        |           AS BIGINT) // 100000 AS rev
        |  FROM orders GROUP BY 1
        |), lags AS (
        |  SELECT unnest(generate_series(1, 7)) AS k
        |), p AS (
        |  SELECT l.k, a.rev AS x, b.rev AS y
        |  FROM lags l JOIN dly b ON TRUE
        |  JOIN dly a ON a.di = b.di + l.k
        |), st AS (
        |  SELECT k, COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
        |         SUM(x * y) AS sxy, SUM(x * x) AS sxx, SUM(y * y) AS syy
        |  FROM p GROUP BY k
        |)
        |SELECT CAST(k AS BIGINT) AS k, CAST(n AS BIGINT) AS n,
        |       CAST((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |            / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |               * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
        |                      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
        |         AS DOUBLE) AS acf
        |FROM st ORDER BY k""".stripMargin) { (s, d) =>
      val dly = Tables.orders(s, d)
        .groupBy(datediff(col("o_orderdate").cast("date"),
          to_date(lit("1992-01-01"))).as("di"))
        .agg((sum(col("o_totalprice").cast(Tables.M)) * 100)
          .cast("long").as("cents"))
        .select(col("di"), expr("cents div 100000").as("rev"))
      val lags = s.range(1, 8).select(col("id").as("k"))
      val shifted = dly.select(col("di").as("bdi"), col("rev").as("y"))
        .crossJoin(broadcast(lags))
        .select(col("k"), (col("bdi") + col("k")).as("di"), col("y"))
      val st = dly.select(col("di"), col("rev").as("x"))
        .join(shifted, Seq("di"))
        .groupBy("k")
        .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"))
      st.select(col("k"), col("n"),
          ((col("n").cast("double") * col("sxy").cast("double")
            - col("sx").cast("double") * col("sy").cast("double"))
            / (sqrt(col("n").cast("double") * col("sxx").cast("double")
                - col("sx").cast("double") * col("sx").cast("double"))
              * sqrt(col("n").cast("double") * col("syy").cast("double")
                - col("sy").cast("double") * col("sy").cast("double"))))
            .as("acf"))
        .orderBy("k")
    },

    // ── two-proportion z-test on a deterministic A/B split ─────────────

    // Conversion lift between user_id-parity cohorts (the deterministic
    // stand-in for an assignment table): per-user conversion is an
    // exact MAX flag, cohort counts are exact BIGINTs, and the pooled
    // two-proportion z statistic is one pinned double expression over
    // those four integers — the whole test is a single user_id-keyed
    // aggregate plus a scalar fold, no per-variant scan. Conversion is
    // a HIGH-VALUE purchase (value > 150): every user in the fixture
    // makes some purchase, so the plain flag would be constant-1 and
    // the pooled variance zero (z = x/0 trips ANSI; the threshold keeps
    // p strictly inside (0,1) at every SF).
    Q("evt_ab_lift",
      """WITH u AS (
        |  SELECT user_id, CAST(user_id % 2 AS INTEGER) AS grp,
        |         MAX(CASE WHEN event_type = 'purchase' AND value > 150
        |             THEN 1 ELSE 0 END) AS conv
        |  FROM events GROUP BY user_id
        |), g AS (
        |  SELECT CAST(SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT) AS na,
        |         CAST(SUM(CASE WHEN grp = 0 THEN conv ELSE 0 END) AS BIGINT) AS ca,
        |         CAST(SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nb,
        |         CAST(SUM(CASE WHEN grp = 1 THEN conv ELSE 0 END) AS BIGINT) AS cb
        |  FROM u
        |)
        |SELECT na AS n_a, ca AS conv_a, nb AS n_b, cb AS conv_b,
        |       CAST(CAST(ca AS DOUBLE) / na AS DOUBLE) AS rate_a,
        |       CAST(CAST(cb AS DOUBLE) / nb AS DOUBLE) AS rate_b,
        |       CAST((CAST(cb AS DOUBLE) / nb - CAST(ca AS DOUBLE) / na)
        |            / sqrt((CAST(ca + cb AS DOUBLE) / (na + nb))
        |                   * (CAST(1 AS DOUBLE)
        |                      - CAST(ca + cb AS DOUBLE) / (na + nb))
        |                   * (CAST(1 AS DOUBLE) / na
        |                      + CAST(1 AS DOUBLE) / nb))
        |         AS DOUBLE) AS z
        |FROM g""".stripMargin) { (s, d) =>
      val u = Tables.events(s, d)
        .groupBy("user_id")
        .agg(max(when(col("event_type") === "purchase" && col("value") > 150,
          1).otherwise(0)).as("conv"))
        .withColumn("grp", (col("user_id") % 2).cast("int"))
      val g = u.agg(
        sum(when(col("grp") === 0, 1).otherwise(0)).as("na"),
        sum(when(col("grp") === 0, col("conv")).otherwise(0)).as("ca"),
        sum(when(col("grp") === 1, 1).otherwise(0)).as("nb"),
        sum(when(col("grp") === 1, col("conv")).otherwise(0)).as("cb"))
      val pPool =
        (col("ca") + col("cb")).cast("double") / (col("na") + col("nb"))
      g.select(col("na").as("n_a"), col("ca").as("conv_a"),
        col("nb").as("n_b"), col("cb").as("conv_b"),
        (col("ca").cast("double") / col("na")).as("rate_a"),
        (col("cb").cast("double") / col("nb")).as("rate_b"),
        ((col("cb").cast("double") / col("nb")
          - col("ca").cast("double") / col("na"))
          / sqrt(pPool * (lit(1).cast("double") - pPool)
            * (lit(1).cast("double") / col("na")
              + lit(1).cast("double") / col("nb")))).as("z"))
    },

    // ── monthly stickiness (avg DAU / MAU) ─────────────────────────────

    // The engagement ratio product analytics watches monthly: mean
    // daily actives over the month divided by monthly actives. All
    // counts exact; one pinned double division chain at the end. The
    // (day,user) dedup is the only event-scale shuffle; DAU and MAU
    // both reduce it to calendar-sized frames before the join.
    Q("evt_stickiness",
      """WITH du AS (
        |  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
        |), dau AS (
        |  SELECT day, COUNT(*) AS dau FROM du GROUP BY day
        |), mau AS (
        |  SELECT date_trunc('month', day) AS month,
        |         COUNT(DISTINCT user_id) AS mau
        |  FROM du GROUP BY 1
        |)
        |SELECT CAST(m.month AS DATE) AS month,
        |       CAST(SUM(a.dau) AS BIGINT) AS sum_dau,
        |       CAST(COUNT(*) AS BIGINT) AS n_days,
        |       CAST(m.mau AS BIGINT) AS mau,
        |       CAST(CAST(SUM(a.dau) AS DOUBLE) / COUNT(*) / m.mau AS DOUBLE)
        |         AS stickiness
        |FROM dau a JOIN mau m ON date_trunc('month', a.day) = m.month
        |GROUP BY m.month, m.mau ORDER BY month""".stripMargin) { (s, d) =>
      val du = Tables.events(s, d)
        .select(col("ts").cast("date").as("day"), col("user_id")).distinct()
      val dau = du.groupBy("day").agg(count(lit(1)).as("dau"))
      val mau = du.select(trunc(col("day"), "month").as("month"), col("user_id"))
        .groupBy("month").agg(countDistinct("user_id").as("mau"))
      dau.withColumn("month", trunc(col("day"), "month"))
        .join(broadcast(mau), Seq("month"))
        .groupBy("month", "mau")
        .agg(sum("dau").as("sum_dau"), count(lit(1)).as("n_days"))
        .select(col("month"), col("sum_dau"), col("n_days"), col("mau"),
          (col("sum_dau").cast("double") / col("n_days") / col("mau"))
            .as("stickiness"))
        .orderBy("month")
    },

    // ── referential-integrity audit across every FK edge ───────────────

    // The pre-publication orphan scan a warehouse runs after each load:
    // one anti-join per FK edge, each a 1-row count, unioned into one
    // report. Dimension parents (nation, region, part, supplier,
    // customer) broadcast; the fact→fact edge hash-joins on the shared
    // bucket key. The "[parents%97 purged]" row is the planted
    // perturbation (FIXTURES.md convention): a deterministically
    // thinned parent set proving the probe actually fires — the clean
    // edges all report 0 on consistent testdata.
    Q("chk_fk_orphans",
      """SELECT 'customer->nation' AS fk, CAST(COUNT(*) AS BIGINT) AS n_orphans
        |FROM customer c LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
        |WHERE n.n_nationkey IS NULL
        |UNION ALL
        |SELECT 'lineitem->orders', CAST(COUNT(*) AS BIGINT)
        |FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
        |WHERE o.o_orderkey IS NULL
        |UNION ALL
        |SELECT 'lineitem->orders[parents%97 purged]', CAST(COUNT(*) AS BIGINT)
        |FROM lineitem l LEFT JOIN
        |  (SELECT o_orderkey FROM orders WHERE o_orderkey % 97 <> 0) o
        |  ON l.l_orderkey = o.o_orderkey
        |WHERE o.o_orderkey IS NULL
        |UNION ALL
        |SELECT 'lineitem->part', CAST(COUNT(*) AS BIGINT)
        |FROM lineitem l LEFT JOIN part p ON l.l_partkey = p.p_partkey
        |WHERE p.p_partkey IS NULL
        |UNION ALL
        |SELECT 'lineitem->supplier', CAST(COUNT(*) AS BIGINT)
        |FROM lineitem l LEFT JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |WHERE s.s_suppkey IS NULL
        |UNION ALL
        |SELECT 'nation->region', CAST(COUNT(*) AS BIGINT)
        |FROM nation n LEFT JOIN region r ON n.n_regionkey = r.r_regionkey
        |WHERE r.r_regionkey IS NULL
        |UNION ALL
        |SELECT 'orders->customer', CAST(COUNT(*) AS BIGINT)
        |FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
        |WHERE c.c_custkey IS NULL
        |UNION ALL
        |SELECT 'supplier->nation', CAST(COUNT(*) AS BIGINT)
        |FROM supplier s LEFT JOIN nation n ON s.s_nationkey = n.n_nationkey
        |WHERE n.n_nationkey IS NULL
        |ORDER BY fk""".stripMargin) { (s, d) =>
      val li = Tables.lineitem(s, d)
      val o = Tables.orders(s, d)
      val cu = Tables.customer(s, d)
      val na = Tables.nation(s, d)
      Seq(
        orphans("customer->nation", cu, "c_nationkey", na, "n_nationkey",
          bcast = true),
        orphans("lineitem->orders", li, "l_orderkey", o, "o_orderkey",
          bcast = false),
        orphans("lineitem->orders[parents%97 purged]", li, "l_orderkey",
          o.filter(col("o_orderkey") % 97 =!= 0), "o_orderkey", bcast = false),
        orphans("lineitem->part", li, "l_partkey",
          Tables.part(s, d), "p_partkey", bcast = true),
        orphans("lineitem->supplier", li, "l_suppkey",
          Tables.supplier(s, d), "s_suppkey", bcast = true),
        orphans("nation->region", na, "n_regionkey",
          Tables.region(s, d), "r_regionkey", bcast = true),
        orphans("orders->customer", o, "o_custkey", cu, "c_custkey",
          bcast = true),
        orphans("supplier->nation", Tables.supplier(s, d), "s_nationkey",
          na, "n_nationkey", bcast = true)
      ).reduce(_ unionByName _).orderBy("fk")
    },

    // ── degree distribution of the co-purchase graph ───────────────────

    // The first diagnostic run on any graph before choosing algorithms
    // (is it power-law? where's the hub cutoff?). Same windowed edge
    // set as graph_triangles (parts < 400, orient a < b, DISTINCT), an
    // UNDIRECTED degree via the symmetric union, then a count-of-counts
    // — two hash aggregates, no joins beyond the edge build.
    Q("graph_degree_dist",
      """WITH e AS (
        |  SELECT DISTINCT a.l_partkey AS p1, b.l_partkey AS p2
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  WHERE a.l_partkey < 400 AND b.l_partkey < 400
        |), deg AS (
        |  SELECT p, COUNT(*) AS deg FROM (
        |    SELECT p1 AS p FROM e UNION ALL SELECT p2 AS p FROM e) x
        |  GROUP BY p
        |)
        |SELECT CAST(deg AS BIGINT) AS degree,
        |       CAST(COUNT(*) AS BIGINT) AS n_nodes
        |FROM deg GROUP BY deg ORDER BY degree""".stripMargin) { (s, d) =>
      val e = Graph.coEdges(s, d) // shared cached stage (r14)
      e.select(col("p1").as("p"))
        .unionByName(e.select(col("p2").as("p")))
        .groupBy("p").agg(count(lit(1)).as("deg"))
        .groupBy("deg").agg(count(lit(1)).as("n_nodes"))
        .select(col("deg").as("degree"), col("n_nodes"))
        .orderBy("degree")
    },

    // ── Benford first-digit audit on order totals ──────────────────────

    // The forensic-accounting screen: the leading-digit distribution of
    // amounts vs Benford's law p(d) = log₁₀(1 + 1/d), with the per-digit
    // χ² contribution. First digit is extracted EXACTLY — money goes
    // through the decimal cents cast (never double×100, whose truncation
    // rounds differently across engines) and the digit is the first char
    // of the integer's string form (every o_totalprice ≥ 1, no sign/zero
    // cases). One map-side-combined 9-group aggregate over the scan;
    // expected proportions and χ² terms are pinned per-row double
    // expressions — no float aggregation anywhere, so the χ² SUM is the
    // consumer's one fold over 9 rows.
    Q("chk_benford",
      """WITH c AS (
        |  SELECT CAST(substr(CAST(CAST(CAST(o_totalprice AS DECIMAL(12,4))
        |           * 100 AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit
        |  FROM orders
        |), g AS (
        |  SELECT digit, CAST(COUNT(*) AS BIGINT) AS n FROM c GROUP BY digit
        |), t AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM g)
        |SELECT digit, n,
        |       CAST(CAST(n AS DOUBLE) / total AS DOUBLE) AS p_obs,
        |       CAST(ln(1 + CAST(1 AS DOUBLE) / digit) / ln(10) AS DOUBLE)
        |         AS p_benford,
        |       CAST(power(CAST(n AS DOUBLE)
        |              - total * (ln(1 + CAST(1 AS DOUBLE) / digit) / ln(10)), 2)
        |            / (total * (ln(1 + CAST(1 AS DOUBLE) / digit) / ln(10)))
        |         AS DOUBLE) AS chi2_term
        |FROM g CROSS JOIN t ORDER BY digit""".stripMargin) { (s, d) =>
      val g = Tables.orders(s, d)
        .select(substring((col("o_totalprice").cast(Tables.M) * 100)
          .cast("long").cast("string"), 1, 1).cast("long").as("digit"))
        .groupBy("digit").agg(count(lit(1)).as("n"))
      val t = g.agg(sum("n").cast("long").as("total"))
      val pBen = log(lit(1) + lit(1).cast("double") / col("digit")) / log(lit(10))
      g.crossJoin(broadcast(t))
        .select(col("digit"), col("n"),
          (col("n").cast("double") / col("total")).as("p_obs"),
          pBen.as("p_benford"),
          (pow(col("n").cast("double") - col("total") * pBen, 2)
            / (col("total") * pBen)).as("chi2_term"))
        .orderBy("digit")
    },

    // ── discrete-time survival / churn hazard ──────────────────────────

    // Kaplan–Meier-style discrete survival over user lifetimes with
    // RIGHT CENSORING — the piece evt_retention (cohort grid) and
    // evt_lifecycle (daily ledger) don't give: "of users who reached
    // day k, what fraction left that day", with still-active users
    // contributing to risk sets but never to events. A user's lifetime
    // t = last-seen − first-seen in whole days; the user is a churn
    // EVENT at t only if ≥7 days of silence separate them from the
    // corpus's last day, otherwise they are censored at t (observation
    // simply ended). Everything stays exact integers: hazard and the
    // KM survival factor are ppm floor-divisions (no float division,
    // no product chain — consumers multiply the ≤14 factors).
    //
    // Scale shape: one per-user MIN/MAX aggregate (map-side combined)
    // is the only event-scale shuffle; lifetimes then collapse to a
    // calendar-bounded (t, counts) frame whose ×14 risk-set explode is
    // the evt_dau_wau bounded-contribution pattern; the corpus last
    // day is a broadcast 1-row scalar. No window at any width, no
    // theta join (at_risk(k) = Σ_{t≥k} n_t via the explode, not a
    // t≥k join).
    // Fixture note: the raw corpus is degenerate for survival — every
    // user stays active to the last day (all censored, hazard ≡ 0), so
    // the panel thins each user's days by a deterministic arithmetic
    // coin ((day + 7·user) mod 31 < 12, exact integers in both
    // engines). Kept-day runs then END at different offsets per user,
    // giving real churn events and varying risk sets (FIXTURES.md
    // planted-perturbation convention: the filter IS the observation
    // window, not noise).
    Q("evt_survival",
      """WITH ev AS (
        |  SELECT user_id,
        |         CAST(epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000
        |           AS BIGINT) AS day
        |  FROM events
        |), u AS (
        |  SELECT user_id, min(day) AS f, max(day) AS l
        |  FROM ev WHERE (day + user_id * 7) % 31 < 12
        |  GROUP BY user_id
        |), dmax AS (SELECT max(l) AS dm FROM u),
        |lif AS (
        |  SELECT l - f AS t,
        |         CASE WHEN dm - l >= 7 THEN 1 ELSE 0 END AS churn
        |  FROM u CROSS JOIN dmax
        |), cnt AS (
        |  SELECT t, CAST(COUNT(*) AS BIGINT) AS n,
        |         CAST(SUM(churn) AS BIGINT) AS ch
        |  FROM lif GROUP BY t
        |), grid AS (
        |  SELECT CAST(unnest(range(0, least(t, 13) + 1)) AS BIGINT) AS k,
        |         t, n, ch
        |  FROM cnt
        |)
        |SELECT k,
        |       CAST(SUM(n) AS BIGINT) AS at_risk,
        |       CAST(SUM(CASE WHEN t = k THEN ch ELSE 0 END) AS BIGINT)
        |         AS churned,
        |       CAST(SUM(CASE WHEN t = k THEN ch ELSE 0 END) * 1000000
        |              // SUM(n) AS BIGINT) AS hazard_ppm,
        |       CAST((SUM(n) - SUM(CASE WHEN t = k THEN ch ELSE 0 END))
        |              * 1000000 // SUM(n) AS BIGINT) AS km_factor_ppm
        |FROM grid GROUP BY k ORDER BY k""".stripMargin) { (s, d) =>
      val u = Tables.events(s, d)
        .select(col("user_id"),
          expr("unix_micros(ts) div 86400000000").as("day"))
        .filter((col("day") + col("user_id") * 7) % 31 < 12)
        .groupBy("user_id")
        .agg(min("day").as("f"), max("day").as("l"))
      val dmax = u.agg(max("l").as("dm"))
      val lif = u.crossJoin(broadcast(dmax))
        .select((col("l") - col("f")).as("t"),
          when(col("dm") - col("l") >= 7, 1).otherwise(0).as("churn"))
      val cnt = lif.groupBy("t")
        .agg(count(lit(1)).as("n"), sum("churn").cast("long").as("ch"))
      val grid = cnt.select(
        explode(sequence(lit(0L), least(col("t"), lit(13L)))).as("k"),
        col("t"), col("n"), col("ch"))
      grid.groupBy("k")
        .agg(sum("n").as("at_risk"),
          sum(when(col("t") === col("k"), col("ch")).otherwise(0L))
            .as("churned"))
        .select(col("k"), col("at_risk"), col("churned"),
          expr("churned * 1000000 div at_risk").as("hazard_ppm"),
          expr("(at_risk - churned) * 1000000 div at_risk")
            .as("km_factor_ppm"))
        .orderBy("k")
    },

    // ── streaming expectation gate, driver-visible (§2.10 oracle) ─────

    // stream_cdc_feed's discipline applied to the quality gate: the
    // StreamExpectations AvailableNow run (Complete-mode counters, no
    // watermark, so the FINAL matrix covers every row, not just closed
    // windows) must equal the batch counters DuckDB computes from the
    // raw table — the 4 row-local rules the stream owns (scope split
    // per StreamExpectations scaladoc: PK/FK/cross-table stay in the
    // batch chk_expectations below). StreamExpectationsSpec pins the
    // equality in-JVM with restarts; this entry re-proves it per round
    // through the driver's hash gate.
    Q("stream_expectations_feed",
      """WITH oa AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
        |         CAST(SUM(CASE WHEN o_orderstatus NOT IN ('F','O','P')
        |                  THEN 1 ELSE 0 END) AS BIGINT) AS bad_status,
        |         CAST(SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END)
        |           AS BIGINT) AS bad_total,
        |         CAST(SUM(CASE WHEN o_orderdate < TIMESTAMP '1995-01-01'
        |                    OR o_orderdate >= TIMESTAMP '2002-01-01'
        |                  THEN 1 ELSE 0 END) AS BIGINT) AS bad_date
        |  FROM orders
        |)
        |SELECT rule, measured, pass FROM (
        |  SELECT 'orders.row_count_min' AS rule, n_rows AS measured,
        |         n_rows >= 100 AS pass FROM oa
        |  UNION ALL SELECT 'orders.status_domain', bad_status,
        |         bad_status = 0 FROM oa
        |  UNION ALL SELECT 'orders.totalprice_positive', bad_total,
        |         bad_total = 0 FROM oa
        |  UNION ALL SELECT 'orders.orderdate_range', bad_date,
        |         bad_date = 0 FROM oa
        |) t ORDER BY rule""".stripMargin) { (s, d) =>
      graft.streaming.StreamExpectations
        .runAvailableNow(s, d, "stream_expectations_feed_sink")
        .select(col("rule"), col("measured").cast("long").as("measured"),
          col("pass"))
        .orderBy("rule")
    },

    // ── data-quality expectation suite (ingest gate matrix) ────────────

    // The Great-Expectations / dbt-test-shaped ingest gate: a NAMED
    // suite of declarative expectations (row floor, PK uniqueness,
    // value domains, ranges, FK containment, cross-table ordering)
    // evaluated in one query, emitting (rule, measured, pass) per rule
    // — the audit form, like txt_gopher_rules: a 100 TB load wants to
    // know WHICH contract broke and by how much, not just a boolean.
    // Extends the reference's check family (chk_balance_warn's
    // warn-don't-abort posture, /root/reference/src/helpers.ts:200-214's
    // verification counts) from per-row checks to a suite-level gate.
    // Scale shape: ONE aggregate per table computes every per-table
    // counter map-side-combined (the chk_profile one-scan discipline),
    // then unpivots via a bounded explode-of-structs; the two
    // cross-table rules (FK orphans + ship-not-before-order) share ONE
    // lineitem⟕orders left join on the key both facts are bucketed by
    // at scale (the charge join's co-location note). The PK-uniqueness
    // counter is the suite's only count-distinct — two-phase partial
    // aggregation, no global sort. ship_not_before_order FAILS here
    // organically (the synthetic data really does ship ~half its lines
    // before the order date) — the gate catching a true defect of its
    // input is the planted-perturbation convention, found not planted.
    Q("chk_expectations",
      """WITH oa AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
        |         CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT)
        |           AS pk_dups,
        |         CAST(SUM(CASE WHEN o_orderstatus NOT IN ('F','O','P')
        |                  THEN 1 ELSE 0 END) AS BIGINT) AS bad_status,
        |         CAST(SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END)
        |           AS BIGINT) AS bad_total,
        |         CAST(SUM(CASE WHEN o_orderdate < TIMESTAMP '1995-01-01'
        |                    OR o_orderdate >= TIMESTAMP '2002-01-01'
        |                  THEN 1 ELSE 0 END) AS BIGINT) AS bad_date
        |  FROM orders
        |), la AS (
        |  SELECT CAST(SUM(CASE WHEN l_discount < 0 OR l_discount > 0.1
        |                  THEN 1 ELSE 0 END) AS BIGINT) AS bad_disc,
        |         CAST(SUM(CASE WHEN l_quantity < 1 OR l_quantity > 50
        |                  THEN 1 ELSE 0 END) AS BIGINT) AS bad_qty,
        |         CAST(SUM(CASE WHEN l_tax < 0 OR l_tax > 0.1
        |                  THEN 1 ELSE 0 END) AS BIGINT) AS bad_tax
        |  FROM lineitem
        |), lj AS (
        |  SELECT CAST(SUM(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END)
        |           AS BIGINT) AS orphans,
        |         CAST(SUM(CASE WHEN o.o_orderkey IS NOT NULL
        |                    AND l.l_shipdate < o.o_orderdate
        |                  THEN 1 ELSE 0 END) AS BIGINT) AS early_ship
        |  FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
        |), ca AS (
        |  SELECT CAST(SUM(CASE WHEN c_acctbal < -1000 OR c_acctbal > 10000
        |                  THEN 1 ELSE 0 END) AS BIGINT) AS bad_acct,
        |         CAST(SUM(CASE WHEN c_nationkey < 0 OR c_nationkey > 24
        |                  THEN 1 ELSE 0 END) AS BIGINT) AS bad_nation
        |  FROM customer
        |)
        |SELECT rule, measured, pass FROM (
        |  SELECT 'orders.row_count_min' AS rule, n_rows AS measured,
        |         n_rows >= 100 AS pass FROM oa
        |  UNION ALL SELECT 'orders.pk_unique', pk_dups, pk_dups = 0 FROM oa
        |  UNION ALL SELECT 'orders.status_domain', bad_status,
        |         bad_status = 0 FROM oa
        |  UNION ALL SELECT 'orders.totalprice_positive', bad_total,
        |         bad_total = 0 FROM oa
        |  UNION ALL SELECT 'orders.orderdate_range', bad_date,
        |         bad_date = 0 FROM oa
        |  UNION ALL SELECT 'lineitem.discount_range', bad_disc,
        |         bad_disc = 0 FROM la
        |  UNION ALL SELECT 'lineitem.qty_range', bad_qty, bad_qty = 0 FROM la
        |  UNION ALL SELECT 'lineitem.tax_range', bad_tax, bad_tax = 0 FROM la
        |  UNION ALL SELECT 'lineitem.fk_orders', orphans, orphans = 0 FROM lj
        |  UNION ALL SELECT 'lineitem.ship_not_before_order', early_ship,
        |         early_ship = 0 FROM lj
        |  UNION ALL SELECT 'customer.acctbal_range', bad_acct,
        |         bad_acct = 0 FROM ca
        |  UNION ALL SELECT 'customer.nationkey_range', bad_nation,
        |         bad_nation = 0 FROM ca
        |) t ORDER BY rule""".stripMargin) { (s, d) =>
      def unpivot(agg: DataFrame,
          rules: Seq[(String, Column, Column => Column)]): DataFrame =
        agg.select(explode(array(rules.map { case (name, m, p) =>
          struct(lit(name).as("rule"), m.cast("long").as("measured"),
            p(m.cast("long")).as("pass"))
        }: _*)).as("r")).select(col("r.rule").as("rule"),
          col("r.measured").as("measured"), col("r.pass").as("pass"))
      val zero = (m: Column) => m === 0L
      val oa = Tables.orders(s, d).agg(
        count(lit(1)).as("n_rows"),
        (count(lit(1)) - countDistinct(col("o_orderkey"))).as("pk_dups"),
        sum(when(!col("o_orderstatus").isin("F", "O", "P"), 1).otherwise(0))
          .as("bad_status"),
        sum(when(col("o_totalprice") <= 0, 1).otherwise(0)).as("bad_total"),
        sum(when(col("o_orderdate") < to_timestamp(lit("1995-01-01")) ||
          col("o_orderdate") >= to_timestamp(lit("2002-01-01")), 1)
          .otherwise(0)).as("bad_date"))
      val la = Tables.lineitem(s, d).agg(
        sum(when(col("l_discount") < 0 || col("l_discount") > 0.1, 1)
          .otherwise(0)).as("bad_disc"),
        sum(when(col("l_quantity") < 1 || col("l_quantity") > 50, 1)
          .otherwise(0)).as("bad_qty"),
        sum(when(col("l_tax") < 0 || col("l_tax") > 0.1, 1)
          .otherwise(0)).as("bad_tax"))
      val lj = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_shipdate"))
        .join(Tables.orders(s, d).select(col("o_orderkey"), col("o_orderdate")),
          col("l_orderkey") === col("o_orderkey"), "left")
        .agg(
          sum(when(col("o_orderkey").isNull, 1).otherwise(0)).as("orphans"),
          sum(when(col("o_orderkey").isNotNull &&
            col("l_shipdate") < col("o_orderdate"), 1).otherwise(0))
            .as("early_ship"))
      val ca = Tables.customer(s, d).agg(
        sum(when(col("c_acctbal") < -1000 || col("c_acctbal") > 10000, 1)
          .otherwise(0)).as("bad_acct"),
        sum(when(col("c_nationkey") < 0 || col("c_nationkey") > 24, 1)
          .otherwise(0)).as("bad_nation"))
      unpivot(oa, Seq(
        ("orders.row_count_min", col("n_rows"), (m: Column) => m >= 100L),
        ("orders.pk_unique", col("pk_dups"), zero),
        ("orders.status_domain", col("bad_status"), zero),
        ("orders.totalprice_positive", col("bad_total"), zero),
        ("orders.orderdate_range", col("bad_date"), zero)))
        .unionByName(unpivot(la, Seq(
          ("lineitem.discount_range", col("bad_disc"), zero),
          ("lineitem.qty_range", col("bad_qty"), zero),
          ("lineitem.tax_range", col("bad_tax"), zero))))
        .unionByName(unpivot(lj, Seq(
          ("lineitem.fk_orders", col("orphans"), zero),
          ("lineitem.ship_not_before_order", col("early_ship"), zero))))
        .unionByName(unpivot(ca, Seq(
          ("customer.acctbal_range", col("bad_acct"), zero),
          ("customer.nationkey_range", col("bad_nation"), zero))))
        .orderBy("rule")
    },

    // ── market-basket association rules (support / confidence / lift) ──

    // Classic Agrawal-style association mining over the order baskets
    // the co-purchase graph family is built from — but as RULES, not
    // edges: for every directed part pair a→b co-bought in ≥ 3 orders,
    // support, confidence = sup(ab)/sup(a), and lift =
    // sup(ab)·N / (sup(a)·sup(b)). Everything is EXACT integer
    // arithmetic: conf_pct = (100·sup_ab) div sup_a and lift_ppm =
    // (10⁶·sup_ab·N) div (sup_a·sup_b) — all operands positive, so
    // Spark's truncating `div` and DuckDB's flooring `//` agree, and
    // the hash oracle is engine-exact (the graph_jaccard_neighbors
    // rule). Scale shape: pair generation is the per-order self-join
    // (work bounded by Σ basket², never catalog²); item supports and
    // the basket total are catalog-/1-row-sized and BROADCAST back;
    // both final joins never shuffle the pair table. The l_partkey <
    // 400 window is the family's labelled demo bound (graph_triangles).
    Q("mba_assoc_rules",
      """WITH li AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS p
        |  FROM lineitem WHERE l_partkey < 400
        |), n AS (SELECT CAST(COUNT(DISTINCT ok) AS BIGINT) AS n FROM li),
        |sup AS (SELECT p, CAST(COUNT(*) AS BIGINT) AS s FROM li GROUP BY p),
        |pairs AS (
        |  SELECT a.p AS pa, b.p AS pb, CAST(COUNT(*) AS BIGINT) AS s_ab
        |  FROM li a JOIN li b ON a.ok = b.ok AND a.p < b.p
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 3
        |), dir AS (
        |  SELECT pa AS ante, pb AS cons, s_ab FROM pairs
        |  UNION ALL
        |  SELECT pb, pa, s_ab FROM pairs
        |)
        |SELECT d.ante, d.cons, d.s_ab AS sup_ab,
        |       CAST(100 * d.s_ab // sa.s AS BIGINT) AS conf_pct,
        |       CAST(CAST(1000000 AS HUGEINT) * d.s_ab * n.n
        |              // (CAST(sa.s AS HUGEINT) * sc.s) AS BIGINT)
        |         AS lift_ppm
        |FROM dir d
        |JOIN sup sa ON sa.p = d.ante
        |JOIN sup sc ON sc.p = d.cons
        |CROSS JOIN n
        |ORDER BY ante, cons""".stripMargin) { (s, d) =>
      val li = Tables.lineitem(s, d).filter(col("l_partkey") < 400)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("p"))
        .distinct()
      val n = li.agg(countDistinct(col("ok")).as("n"))
      val sup = li.groupBy("p").agg(count(lit(1)).as("s"))
      val pairs = li.select(col("ok"), col("p").as("pa"))
        .join(li.select(col("ok"), col("p").as("pb")), Seq("ok"))
        .filter(col("pa") < col("pb"))
        .groupBy("pa", "pb").agg(count(lit(1)).as("s_ab"))
        .filter(col("s_ab") >= 3)
      val dir = pairs.select(col("pa").as("ante"), col("pb").as("cons"),
          col("s_ab"))
        .unionByName(pairs.select(col("pb").as("ante"), col("pa").as("cons"),
          col("s_ab")))
      dir
        .join(broadcast(sup.select(col("p").as("ante"), col("s").as("sa"))),
          Seq("ante"))
        .join(broadcast(sup.select(col("p").as("cons"), col("s").as("sc"))),
          Seq("cons"))
        .crossJoin(broadcast(n))
        .select(col("ante"), col("cons"), col("s_ab").as("sup_ab"),
          expr("100 * s_ab div sa").as("conf_pct"),
          // 10⁶·s_ab·n promoted to 38-digit exact integers on both
          // sides (HUGEINT in the oracle): in 64-bit the product wraps
          // silently once n·s_ab passes ~10¹², i.e. at exactly the
          // corpus scale the pair-join shape is built for
          expr("""CAST(1000000 AS DECIMAL(38,0)) * s_ab * n
                  div (CAST(sa AS DECIMAL(38,0)) * sc)""").as("lift_ppm"))
        .orderBy("ante", "cons")
    },

    // ── two-sample Kolmogorov–Smirnov drift distance (binned) ──────────

    // The CONTINUOUS-column drift audit chk_drift (TVD on categoricals)
    // cannot do: sup-norm CDF distance between two populations'
    // o_totalprice distributions (urgent vs low-priority orders as the
    // train/serve stand-ins). Values quantize once to 500-unit integer
    // bins — floor identical in both engines — making this the BINNED
    // KS statistic: deterministic, exact-integer, and scale-honest,
    // because both CDFs live on the bounded bin grid (a few hundred
    // rows after ONE map-side-combined aggregate), so the partition-
    // less cumulative window is the ts_ewma "bounded dimension"
    // exception, not a corpus-scale sort. The deviation is the
    // cross-multiplied |F_a·n_b − F_b·n_a| (no float CDF anywhere);
    // ks_ppm = D·10⁶ div (n_a·n_b); ks_bin = the first bin attaining
    // the max (deterministic argmax). Exact unbinned KS needs the
    // distributed-rank route (Ranking.globalRowNumber over the merged
    // sample) — documented trade, same answer as bin width → 0.
    Q("chk_dist_ks",
      """WITH b AS (
        |  SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN 0 ELSE 1 END
        |           AS g,
        |         CAST(floor(o_totalprice) AS BIGINT) // 500 AS bin
        |  FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
        |), c AS (
        |  SELECT bin,
        |         CAST(SUM(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |           AS ca,
        |         CAST(SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |           AS cb
        |  FROM b GROUP BY bin
        |), n AS (
        |  SELECT CAST(SUM(ca) AS BIGINT) AS na,
        |         CAST(SUM(cb) AS BIGINT) AS nb FROM c
        |), cum AS (
        |  SELECT bin, SUM(ca) OVER (ORDER BY bin) AS fa,
        |         SUM(cb) OVER (ORDER BY bin) AS fb FROM c
        |), d AS (
        |  SELECT bin, CAST(ABS(fa * n.nb - fb * n.na) AS BIGINT) AS dev
        |  FROM cum CROSS JOIN n
        |), mx AS (SELECT CAST(MAX(dev) AS BIGINT) AS dmax FROM d)
        |SELECT n.na AS n_a, n.nb AS n_b,
        |       CAST(mx.dmax * 1000000 // (n.na * n.nb) AS BIGINT) AS ks_ppm,
        |       CAST((SELECT MIN(bin) FROM d WHERE d.dev = mx.dmax)
        |         AS BIGINT) AS ks_bin
        |FROM n CROSS JOIN mx""".stripMargin) { (s, d) =>
      val b = Tables.orders(s, d)
        .filter(col("o_orderpriority").isin("1-URGENT", "5-LOW"))
        .select(
          when(col("o_orderpriority") === "1-URGENT", 0).otherwise(1).as("g"),
          expr("CAST(floor(o_totalprice) AS BIGINT) div 500").as("bin"))
      val c = b.groupBy("bin").agg(
        sum(when(col("g") === 0, 1L).otherwise(0L)).as("ca"),
        sum(when(col("g") === 1, 1L).otherwise(0L)).as("cb"))
      val n = c.agg(sum("ca").cast("long").as("na"),
        sum("cb").cast("long").as("nb"))
      val wb = Window.orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val dev = c
        .select(col("bin"), sum("ca").over(wb).as("fa"),
          sum("cb").over(wb).as("fb"))
        .crossJoin(broadcast(n))
        .select(col("bin"),
          abs(col("fa") * col("nb") - col("fb") * col("na")).as("dev"),
          col("na"), col("nb"))
      val mx = dev.agg(max("dev").as("dmax"))
      dev.crossJoin(broadcast(mx))
        .filter(col("dev") === col("dmax"))
        .groupBy("na", "nb", "dmax")
        .agg(min("bin").as("ks_bin"))
        .select(col("na").as("n_a"), col("nb").as("n_b"),
          expr("dmax * 1000000 div (na * nb)").as("ks_ppm"),
          col("ks_bin"))
    },

    // ── Pearson correlation + OLS line in exact sufficient statistics ──

    // corr/regr_slope/regr_intercept with ORACLE BIT-PARITY, which the
    // engines' native float aggregates cannot give (their accumulation
    // order differs): quantity (integral) and price (exact cents via
    // the DECIMAL(12,4) money cast) reduce to the five sufficient sums
    // n, Σx, Σy, Σxy, Σx², Σy² — exact DECIMAL(38)/HUGEINT on the two
    // engines — and every float output is ONE pinned expression over
    // their exact cross-products: r = cov_n/(√varx_n·√vary_n) with
    // sqrt-each-then-multiply pinned (√ is IEEE-correctly-rounded in
    // both), slope = cov_n/varx_n, intercept = (Σy − slope·Σx)/n.
    // Scale shape: one map-side-combined hash aggregate over the scan —
    // the sufficient-statistics form IS the distributed-correlation
    // algorithm (partials merge by addition).
    Q("agg_corr_ols",
      """WITH s AS (
        |  SELECT l_returnflag AS flag,
        |         CAST(COUNT(*) AS BIGINT) AS n,
        |         SUM(CAST(l_quantity AS BIGINT)) AS sx,
        |         SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,4)) * 100
        |             AS BIGINT)) AS sy,
        |         SUM(CAST(l_quantity AS BIGINT)
        |             * CAST(CAST(l_extendedprice AS DECIMAL(12,4)) * 100
        |               AS BIGINT)) AS sxy,
        |         SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT))
        |           AS sxx,
        |         SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,4)) * 100
        |               AS BIGINT)
        |             * CAST(CAST(l_extendedprice AS DECIMAL(12,4)) * 100
        |               AS BIGINT)) AS syy
        |  FROM lineitem GROUP BY l_returnflag
        |)
        |SELECT flag, n,
        |       CAST(CAST(n * sxy - sx * sy AS DOUBLE)
        |            / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
        |               * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))
        |         AS DOUBLE) AS r,
        |       CAST(CAST(n * sxy - sx * sy AS DOUBLE)
        |            / CAST(n * sxx - sx * sx AS DOUBLE) AS DOUBLE)
        |         AS slope_cents,
        |       CAST((CAST(sy AS DOUBLE)
        |              - CAST(CAST(n * sxy - sx * sy AS DOUBLE)
        |                     / CAST(n * sxx - sx * sx AS DOUBLE) AS DOUBLE)
        |                * CAST(sx AS DOUBLE)) / n AS DOUBLE)
        |         AS intercept_cents
        |FROM s ORDER BY flag""".stripMargin) { (s, d) =>
      val D = org.apache.spark.sql.types.DecimalType(38, 0)
      val x = col("l_quantity").cast("long").cast(D)
      val y = (col("l_extendedprice").cast(Tables.M) * 100)
        .cast("long").cast(D)
      val agg = Tables.lineitem(s, d)
        .groupBy(col("l_returnflag").as("flag"))
        .agg(count(lit(1)).as("n"),
          sum(x).as("sx"), sum(y).as("sy"),
          sum(x * y).as("sxy"), sum(x * x).as("sxx"), sum(y * y).as("syy"))
      val nD = col("n").cast(D)
      val covN = (nD * col("sxy") - col("sx") * col("sy")).cast("double")
      val varxN = (nD * col("sxx") - col("sx") * col("sx")).cast("double")
      val varyN = (nD * col("syy") - col("sy") * col("sy")).cast("double")
      val slope = covN / varxN
      agg.select(col("flag"), col("n"),
          (covN / (sqrt(varxN) * sqrt(varyN))).as("r"),
          slope.as("slope_cents"),
          ((col("sy").cast("double") - slope * col("sx").cast("double"))
            / col("n")).as("intercept_cents"))
        .orderBy("flag")
    },

    // ── Theil–Sen robust trend (the median-of-slopes estimator) ────────

    // The robust companion to agg_corr_ols's least-squares slope: the
    // median over all pairwise slopes (c_j − c_i)/(d_j − d_i) of each
    // event type's daily-count series (Theil '50 / Sen '68, 29.3%
    // breakdown point — one bursty outage day drags an OLS trend but
    // not this one). Engine parity by construction: each slope is ONE
    // double division of two exact integers (identical rounding both
    // engines), ordering doubles is engine-identical, rank ties carry
    // equal values so the median is tie-order-independent, and the
    // even-count middle is one commutative add + halving. Scale shape:
    // the pair table is a self-join of the DAILY dimension (calendar-
    // bounded, ~days²/2 per key — the evt_cum_users bounded-dimension
    // argument), built from one map-side-combined daily rollup; the
    // corpus-scale events table is touched exactly once. The median
    // rank window partitions by event_type.
    Q("ts_theilsen",
      """WITH dc AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |         CAST(COUNT(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2
        |), dd AS (
        |  SELECT event_type, (day - DATE '1970-01-01') AS d, c FROM dc
        |), pr AS (
        |  SELECT a.event_type,
        |         CAST(b.c - a.c AS DOUBLE) / CAST(b.d - a.d AS DOUBLE)
        |           AS slope
        |  FROM dd a JOIN dd b
        |    ON a.event_type = b.event_type AND b.d > a.d
        |), r AS (
        |  SELECT event_type, slope,
        |         row_number() OVER (PARTITION BY event_type ORDER BY slope)
        |           AS rn,
        |         COUNT(*) OVER (PARTITION BY event_type) AS np
        |  FROM pr
        |)
        |SELECT event_type, CAST(np AS BIGINT) AS n_pairs,
        |       SUM(slope) / COUNT(*) AS ts_slope
        |FROM r
        |WHERE rn = (np + 1) // 2 OR rn = (np + 2) // 2
        |GROUP BY event_type, np
        |ORDER BY event_type""".stripMargin) { (s, d) =>
      val dc = Tables.events(s, d)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("c"))
        .select(col("event_type"),
          datediff(col("day"), lit("1970-01-01")).as("d"), col("c"))
      val b = dc.select(col("event_type"), col("d").as("d2"),
        col("c").as("c2"))
      val pr = dc.join(b, Seq("event_type"))
        .filter(col("d2") > col("d"))
        .select(col("event_type"),
          ((col("c2") - col("c")).cast("double")
            / (col("d2") - col("d")).cast("double")).as("slope"))
      val w = Window.partitionBy("event_type").orderBy("slope")
      val wAll = Window.partitionBy("event_type")
      pr.select(col("event_type"), col("slope"),
          row_number().over(w).as("rn"), count(lit(1)).over(wAll).as("np"))
        .filter(col("rn") === expr("(np + 1) div 2") ||
          col("rn") === expr("(np + 2) div 2"))
        .groupBy("event_type", "np")
        .agg((sum("slope") / count(lit(1))).as("ts_slope"))
        .select(col("event_type"), col("np").as("n_pairs"), col("ts_slope"))
        .orderBy("event_type")
    },

    // ── Mann–Kendall trend test (the significance companion) ──────────

    // ts_theilsen answers "how steep"; this answers "is there a trend
    // at all": S = Σ_{i<j} sign(c_j − c_i) over each event type's
    // daily-count series (Mann '45 / Kendall '75 — the standard
    // nonparametric monotone-trend test in hydrology/climatology).
    // Reported per series: S (exact integer), the pair count, and
    // tau-b = S/√(D1·D2) as ONE pinned double expression, where D1 =
    // all pairs (time never ties) and D2 = value-untied pairs — the
    // tie-corrected Kendall correlation of count against time.
    // Parity: sign() on integer differences, integer sums, one
    // sqrt·sqrt division — identical in both engines. Scale shape:
    // same calendar-bounded daily self-join as
    // ts_theilsen (days²/2 per key); the events table is touched once
    // by the map-side-combined daily rollup.
    Q("ts_mann_kendall",
      """WITH dc AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |         CAST(COUNT(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2
        |), pr AS (
        |  SELECT a.event_type,
        |         CAST(CASE WHEN b.c > a.c THEN 1
        |                   WHEN b.c < a.c THEN -1 ELSE 0 END AS BIGINT)
        |           AS sg
        |  FROM dc a JOIN dc b
        |    ON a.event_type = b.event_type AND b.day > a.day
        |), agg AS (
        |  SELECT event_type, CAST(SUM(sg) AS BIGINT) AS s_stat,
        |         CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |         CAST(SUM(CASE WHEN sg <> 0 THEN 1 ELSE 0 END) AS BIGINT)
        |           AS n_untied
        |  FROM pr GROUP BY event_type
        |)
        |SELECT event_type, s_stat, n_pairs,
        |       CAST(CAST(s_stat AS DOUBLE)
        |            / (sqrt(CAST(n_pairs AS DOUBLE))
        |               * sqrt(CAST(n_untied AS DOUBLE))) AS DOUBLE)
        |         AS tau_b
        |FROM agg ORDER BY event_type""".stripMargin) { (s, d) =>
      val dc = Tables.events(s, d)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("c"))
      val b = dc.select(col("event_type"), col("day").as("day2"),
        col("c").as("c2"))
      val pr = dc.join(b, Seq("event_type"))
        .filter(col("day2") > col("day"))
        .select(col("event_type"),
          when(col("c2") > col("c"), 1L)
            .when(col("c2") < col("c"), -1L).otherwise(0L).as("sg"))
      pr.groupBy("event_type")
        .agg(sum("sg").as("s_stat"), count(lit(1)).as("n_pairs"),
          sum(when(col("sg") =!= 0, 1L).otherwise(0L)).as("n_untied"))
        .select(col("event_type"), col("s_stat"), col("n_pairs"),
          (col("s_stat").cast("double")
            / (sqrt(col("n_pairs").cast("double"))
              * sqrt(col("n_untied").cast("double")))).as("tau_b"))
        .orderBy("event_type")
    },

    // ── STL-lite seasonal decomposition (trend + weekly + residual) ────

    // Classical additive decomposition of each event type's daily
    // revenue series (the moving-average skeleton of STL, Cleveland
    // '90, without the loess robustness loop): trend = centered 7-day
    // moving average (RANGE frame on the integer epoch day, so a
    // missing calendar day shrinks the window rather than silently
    // widening it — only complete windows qualify); weekly component =
    // per-weekday mean of the detrended interior; residual = actual −
    // trend − seasonal. Engine parity: daily totals are exact DECIMAL;
    // the trend is ONE double cast + /7; the seasonal mean avoids
    // double accumulation by summing the exact-decimal numerator
    // 7·v − Σ₇v and casting ONCE; the residual is two pinned double
    // subtractions. Weekday = epoch_day % 7 (integer arithmetic —
    // dayofweek() numbering differs between engines). Scale shape: one
    // map-side-combined daily rollup touches the events table once;
    // everything after is calendar-bounded (windows partition by
    // event_type over days, the seasonal join is a broadcast of
    // |types|×7 rows).
    Q("ts_stl",
      s"""WITH $stlSql
         |SELECT event_type, d, actual, trend, seasonal, residual
         |FROM stl ORDER BY event_type, d""".stripMargin) { (s, d) =>
      stlParts(s, d).orderBy("event_type", "d")
    },

    // ── STL-residual anomaly flags (the detector the decomposition
    // buys) ────────────────────────────────────────────────────────────

    // evt_mad_anomaly on the RIGHT signal: raw daily values trip on
    // weekly seasonality (every Sunday looks anomalous), so the robust
    // 3×MAD rule runs on ts_stl's RESIDUALS — what's left after trend
    // and weekly shape are explained. Medians are exact order
    // statistics per series ((n+1)/2, (n+2)/2 ranks with (residual, d)
    // tie-order; the even-count middle is one commutative 2-term add +
    // halving), deviations and the 3×MAD threshold are pinned double
    // ops — no division anywhere. Scale shape: everything downstream
    // of the daily rollup is calendar-bounded; windows partition by
    // event_type.
    Q("ts_stl_anomaly",
      s"""WITH $stlSql,
         |rr AS (
         |  SELECT event_type, d, actual, residual,
         |         row_number() OVER (PARTITION BY event_type
         |                            ORDER BY residual, d) AS rn,
         |         COUNT(*) OVER (PARTITION BY event_type) AS np
         |  FROM stl
         |), med AS (
         |  SELECT event_type,
         |         CAST(SUM(residual) / COUNT(*) AS DOUBLE) AS m
         |  FROM rr WHERE rn = (np + 1) // 2 OR rn = (np + 2) // 2
         |  GROUP BY event_type
         |), dev AS (
         |  SELECT r.event_type, r.d, r.actual, r.residual,
         |         abs(r.residual - m.m) AS dv
         |  FROM rr r JOIN med m ON r.event_type = m.event_type
         |), dr AS (
         |  SELECT event_type, d, actual, residual, dv,
         |         row_number() OVER (PARTITION BY event_type
         |                            ORDER BY dv, d) AS rn,
         |         COUNT(*) OVER (PARTITION BY event_type) AS np
         |  FROM dev
         |), mad AS (
         |  SELECT event_type,
         |         CAST(SUM(dv) / COUNT(*) AS DOUBLE) AS mad
         |  FROM dr WHERE rn = (np + 1) // 2 OR rn = (np + 2) // 2
         |  GROUP BY event_type
         |)
         |SELECT v.event_type, v.d, v.actual, v.residual, v.dv,
         |       m.mad, v.dv > 3 * m.mad AS is_anomaly
         |FROM dev v JOIN mad m ON v.event_type = m.event_type
         |ORDER BY v.event_type, v.d""".stripMargin) { (s, d) =>
      val stl = graft.Caches.shared(stlParts(s, d))
      val wr = Window.partitionBy("event_type").orderBy("residual", "d")
      val wAll = Window.partitionBy("event_type")
      val rr = stl.select(col("event_type"), col("d"), col("actual"),
        col("residual"), row_number().over(wr).as("rn"),
        count(lit(1)).over(wAll).as("np"))
      val med = rr.filter(col("rn") === expr("(np + 1) div 2") ||
          col("rn") === expr("(np + 2) div 2"))
        .groupBy("event_type")
        .agg((sum("residual") / count(lit(1))).as("m"))
      val dev = rr.join(broadcast(med), Seq("event_type"))
        .select(col("event_type"), col("d"), col("actual"),
          col("residual"), abs(col("residual") - col("m")).as("dv"))
      val wd = Window.partitionBy("event_type").orderBy("dv", "d")
      val dr = dev.select(col("event_type"), col("d"), col("dv"),
        row_number().over(wd).as("rn"), count(lit(1)).over(wAll).as("np"))
      val mad = dr.filter(col("rn") === expr("(np + 1) div 2") ||
          col("rn") === expr("(np + 2) div 2"))
        .groupBy("event_type")
        .agg((sum("dv") / count(lit(1))).as("mad"))
      dev.join(broadcast(mad), Seq("event_type"))
        .select(col("event_type"), col("d"), col("actual"),
          col("residual"), col("dv"), col("mad"),
          (col("dv") > col("mad") * 3).as("is_anomaly"))
        .orderBy("event_type", "d")
    },

    // ── Pareto concentration curve (distributed prefix scan) ───────────

    // "What share of revenue do the top-10%/20%/… customers carry?" —
    // the concentration curve behind every 80/20 claim, computed with
    // NO global window over customers: the rank comes from the
    // range-partition + zipWithIndex ranker, deciles are integer
    // arithmetic against a broadcast total, and the cumulative sum
    // runs over the TEN decile rows (bounded dimension — the
    // documented partition-less-window exception), not the customer
    // axis. Revenue is exact BIGINT ten-thousandths end-to-end;
    // cum_share is one pinned division. This is evt_gini's quantile-
    // resolution companion and the distributed form of a prefix scan
    // any 100 TB ranking pipeline needs.
    Q("win_pareto_curve",
      """WITH sp AS (
        |  SELECT o_custkey AS custkey,
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(12,4))) * 10000
        |              AS BIGINT) AS cents
        |  FROM orders GROUP BY o_custkey
        |), t AS (
        |  SELECT custkey, cents,
        |         row_number() OVER (ORDER BY cents DESC, custkey) AS rn
        |  FROM sp
        |), tot AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |         CAST(SUM(cents) AS BIGINT) AS tc
        |  FROM sp
        |), dec AS (
        |  SELECT CAST((rn - 1) * 10 // n + 1 AS BIGINT) AS decile,
        |         CAST(COUNT(*) AS BIGINT) AS n_cust,
        |         CAST(SUM(cents) AS BIGINT) AS c
        |  FROM t CROSS JOIN tot GROUP BY 1
        |)
        |SELECT decile, n_cust, c AS decile_rev,
        |       CAST(CAST(c AS DOUBLE) / tc AS DOUBLE) AS decile_share,
        |       CAST(CAST(SUM(c) OVER (ORDER BY decile
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |            AS DOUBLE) / tc AS DOUBLE) AS cum_share
        |FROM dec CROSS JOIN tot ORDER BY decile""".stripMargin) { (s, d) =>
      val sp = Tables.orders(s, d)
        .groupBy(col("o_custkey").as("custkey"))
        .agg((sum(col("o_totalprice").cast(Tables.M)) * 10000)
          .cast("long").as("cents"))
      val ranked = Ranking.globalRowNumber(
        sp.withColumn("neg", -col("cents")), Seq("neg", "custkey"))
      val tot = sp.agg(count(lit(1)).as("n"), sum("cents").as("tc"))
      val dec = ranked.crossJoin(broadcast(tot))
        .select(expr("(row_num - 1) * 10 div n + 1").as("decile"),
          col("cents"))
        .groupBy("decile")
        .agg(count(lit(1)).as("n_cust"), sum("cents").as("c"))
      val wCum = Window.orderBy("decile")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      dec.crossJoin(broadcast(tot))
        .select(col("decile"), col("n_cust"), col("c").as("decile_rev"),
          (col("c").cast("double") / col("tc")).as("decile_share"),
          (sum("c").over(wCum).cast("double") / col("tc"))
            .as("cum_share"))
        .orderBy("decile")
    },

    // ── Tukey-fence outliers (the IQR robust-stats classic) ────────────

    // The boxplot rule beside ts_stl_anomaly's MAD rule: daily revenue
    // flagged outside [Q1 − 1.5·IQR, Q3 + 1.5·IQR] per event type.
    // Quartiles are NEAREST-RANK order statistics (ranks ⌈n/4⌉ and
    // ⌈3n/4⌉ over the (value, day) total order — no interpolation
    // shape for engines to disagree on), daily totals exact DECIMAL,
    // and the fences are pinned double chains. Scale shape: windows
    // partition by event_type over the calendar-bounded daily frame;
    // the quartile table broadcasts back.
    Q("ts_iqr_outliers",
      """WITH dly AS (
        |  SELECT event_type,
        |         (CAST(ts AS DATE) - DATE '1970-01-01') AS d,
        |         SUM(CAST(value AS DECIMAL(10,4))) AS v
        |  FROM events GROUP BY 1, 2
        |), r AS (
        |  SELECT event_type, d, v,
        |         row_number() OVER (PARTITION BY event_type
        |                            ORDER BY v, d) AS rn,
        |         COUNT(*) OVER (PARTITION BY event_type) AS n
        |  FROM dly
        |), q AS (
        |  SELECT a.event_type,
        |         CAST(MAX(CASE WHEN a.rn = (a.n + 3) // 4 THEN a.v END)
        |              AS DOUBLE) AS q1,
        |         CAST(MAX(CASE WHEN a.rn = (3 * a.n + 3) // 4 THEN a.v
        |              END) AS DOUBLE) AS q3
        |  FROM r a GROUP BY a.event_type
        |)
        |SELECT r.event_type, CAST(r.d AS BIGINT) AS d,
        |       CAST(r.v AS DOUBLE) AS actual, q.q1, q.q3,
        |       CAST(r.v AS DOUBLE) < q.q1 - 1.5 * (q.q3 - q.q1)
        |         OR CAST(r.v AS DOUBLE) > q.q3 + 1.5 * (q.q3 - q.q1)
        |         AS is_outlier
        |FROM r JOIN q ON r.event_type = q.event_type
        |ORDER BY r.event_type, d""".stripMargin) { (s, d) =>
      val dly = Tables.events(s, d)
        .groupBy(col("event_type"),
          datediff(col("ts").cast("date"), lit("1970-01-01")).as("d"))
        .agg(sum(col("value").cast("decimal(10,4)")).as("v"))
      val wr = Window.partitionBy("event_type").orderBy("v", "d")
      val wAll = Window.partitionBy("event_type")
      val r = dly.select(col("event_type"), col("d"), col("v"),
        row_number().over(wr).as("rn"), count(lit(1)).over(wAll).as("n"))
      val q = r.groupBy("event_type")
        .agg(
          max(when(col("rn") === expr("(n + 3) div 4"), col("v")))
            .cast("double").as("q1"),
          max(when(col("rn") === expr("(3 * n + 3) div 4"), col("v")))
            .cast("double").as("q3"))
      val actual = col("v").cast("double")
      val iqr = col("q3") - col("q1")
      r.join(broadcast(q), Seq("event_type"))
        .select(col("event_type"), col("d").cast("long").as("d"),
          actual.as("actual"), col("q1"), col("q3"),
          (actual < col("q1") - lit(1.5) * iqr ||
            actual > col("q3") + lit(1.5) * iqr).as("is_outlier"))
        .orderBy("event_type", "d")
    },

    // ── co-purchase recommendations ("also bought") ────────────────────

    // The collaborative-filtering classic as a query: for every part,
    // the top-3 parts most often sharing an order with it, weighted by
    // the number of SHARED ORDERS (not distinct-collapsed — frequency
    // is the signal), ties to the smaller recommendation id. This is
    // the item-item neighborhood model an "also bought" shelf serves
    // from. Exact integer weights; no floats at all. Scale shape: pair
    // weights come from the per-order self-join (work Σ basket², the
    // mba_assoc_rules bound); the top-3 window partitions by source
    // part — at catalog scale the same plan swaps in TopKPerKey.
    Q("graph_copurchase_recs",
      """WITH pw AS (
        |  SELECT a.l_partkey AS p1, b.l_partkey AS p2,
        |         CAST(COUNT(*) AS BIGINT) AS w
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  WHERE a.l_partkey < 400 AND b.l_partkey < 400
        |  GROUP BY 1, 2
        |), dir AS (
        |  SELECT p1 AS src, p2 AS rec, w FROM pw
        |  UNION ALL
        |  SELECT p2 AS src, p1 AS rec, w FROM pw
        |), r AS (
        |  SELECT src, rec, w,
        |         CAST(row_number() OVER (PARTITION BY src
        |              ORDER BY w DESC, rec) AS BIGINT) AS rk
        |  FROM dir
        |)
        |SELECT src, rk, rec, w AS n_shared_orders
        |FROM r WHERE rk <= 3 ORDER BY src, rk""".stripMargin) { (s, d) =>
      val li = Tables.lineitem(s, d).filter(col("l_partkey") < 400)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("p"))
      val pw = li.select(col("ok"), col("p").as("p1"))
        .join(li.select(col("ok"), col("p").as("p2")), Seq("ok"))
        .filter(col("p1") < col("p2"))
        .groupBy("p1", "p2").agg(count(lit(1)).as("w"))
      val dir = pw.select(col("p1").as("src"), col("p2").as("rec"),
          col("w"))
        .unionByName(pw.select(col("p2").as("src"), col("p1").as("rec"),
          col("w")))
      val wTop = Window.partitionBy("src")
        .orderBy(col("w").desc, col("rec"))
      dir.withColumn("rk", row_number().over(wTop).cast("long"))
        .filter(col("rk") <= 3)
        .select(col("src"), col("rk"), col("rec"),
          col("w").as("n_shared_orders"))
        .orderBy("src", "rk")
    },

    // ── CUPED variance-reduced A/B lift ────────────────────────────────

    // evt_ab_lift's modern production form (Deng et al., WSDM'13):
    // split the fixture month at its calendar midpoint, use each
    // user's PRE-period purchase revenue as the covariate X for their
    // post-period metric Y, and report the experiment lift after
    // subtracting θ·X with θ = cov(X,Y)/var(X) — the adjustment that
    // cuts metric variance by ρ² without biasing the treatment
    // difference (arm assignment user_id % 2 is independent of X).
    // Exact-integer discipline throughout (the agg_corr_ols shape):
    // per-user revenues become BIGINT ten-thousandths, moments are
    // DECIMAL(38,0) products, and θ / means / lifts are pinned double
    // expressions over those integers. The calendar midpoint is a
    // 1-row broadcast scalar, not a literal — fixture-independent.
    // Scale shape: one map-side-combined per-user rollup touches
    // events once; everything downstream is one global aggregate row.
    Q("evt_ab_cuped",
      s"""WITH $causalUsersSql, g AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |         SUM(CAST(x AS DECIMAL(38,0))) AS sx,
        |         SUM(CAST(y AS DECIMAL(38,0))) AS sy,
        |         SUM(CAST(x AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0)))
        |           AS sxy,
        |         SUM(CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0)))
        |           AS sxx,
        |         CAST(SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |           AS na,
        |         SUM(CASE WHEN grp = 0 THEN CAST(x AS DECIMAL(38,0))
        |             ELSE 0 END) AS sxa,
        |         SUM(CASE WHEN grp = 0 THEN CAST(y AS DECIMAL(38,0))
        |             ELSE 0 END) AS sya,
        |         CAST(SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |           AS nb,
        |         SUM(CASE WHEN grp = 1 THEN CAST(x AS DECIMAL(38,0))
        |             ELSE 0 END) AS sxb,
        |         SUM(CASE WHEN grp = 1 THEN CAST(y AS DECIMAL(38,0))
        |             ELSE 0 END) AS syb
        |  FROM u
        |)
        |SELECT na AS n_a, nb AS n_b,
        |       CAST(CAST(n * sxy - sx * sy AS DOUBLE)
        |            / CAST(n * sxx - sx * sx AS DOUBLE) AS DOUBLE)
        |         AS theta,
        |       CAST((CAST(syb AS DOUBLE) / nb - CAST(sya AS DOUBLE) / na)
        |            / 10000 AS DOUBLE) AS lift_raw,
        |       CAST((CAST(syb AS DOUBLE) / nb - CAST(sya AS DOUBLE) / na
        |             - CAST(CAST(n * sxy - sx * sy AS DOUBLE)
        |                    / CAST(n * sxx - sx * sx AS DOUBLE) AS DOUBLE)
        |               * (CAST(sxb AS DOUBLE) / nb
        |                  - CAST(sxa AS DOUBLE) / na)) / 10000 AS DOUBLE)
        |         AS lift_cuped
        |FROM g""".stripMargin) { (s, d) =>
      val D = org.apache.spark.sql.types.DecimalType(38, 0)
      val u = causalUsersShared(s, d)
      val xD = col("x").cast(D)
      val yD = col("y").cast(D)
      val g = u.agg(count(lit(1)).as("n"),
        sum(xD).as("sx"), sum(yD).as("sy"),
        sum(xD * yD).as("sxy"), sum(xD * xD).as("sxx"),
        sum(when(col("grp") === 0, 1L).otherwise(0L)).as("na"),
        sum(when(col("grp") === 0, xD).otherwise(lit(0).cast(D))).as("sxa"),
        sum(when(col("grp") === 0, yD).otherwise(lit(0).cast(D))).as("sya"),
        sum(when(col("grp") === 1, 1L).otherwise(0L)).as("nb"),
        sum(when(col("grp") === 1, xD).otherwise(lit(0).cast(D))).as("sxb"),
        sum(when(col("grp") === 1, yD).otherwise(lit(0).cast(D))).as("syb"))
      val nD = col("n").cast(D)
      val theta = (nD * col("sxy") - col("sx") * col("sy")).cast("double") /
        (nD * col("sxx") - col("sx") * col("sx")).cast("double")
      val dy = col("syb").cast("double") / col("nb") -
        col("sya").cast("double") / col("na")
      val dx = col("sxb").cast("double") / col("nb") -
        col("sxa").cast("double") / col("na")
      g.select(col("na").as("n_a"), col("nb").as("n_b"),
        theta.as("theta"), (dy / 10000).as("lift_raw"),
        ((dy - theta * dx) / 10000).as("lift_cuped"))
    },

    // ── matched-pairs lift (nearest-covariate matching) ────────────────

    // The observational companion to evt_ab_cuped: each treated user
    // (arm 1) is matched to the control whose PRE-period revenue is
    // nearest WITHIN the same activity stratum (distinct pre-period
    // active days — exact-match on the stratum, nearest-neighbor on
    // the covariate, the standard coarsened-matching shape), and the
    // effect is the mean treated−matched post-period difference. The
    // nearest match is the as-of kernel run BACKWARD then FORWARD over
    // the covariate axis (join_asof_near's convention, backward wins
    // ties); controls tied at the same (stratum, x) dedupe to the
    // min-user representative first (the kernel's uniqueness
    // contract). Exact-integer ledger: revenues are BIGINT
    // ten-thousandths, distances integer, and the two doubles are
    // single pinned division chains. Scale shape: one per-user rollup
    // touches events; matching is two as-of merges partitioned by
    // stratum — no all-pairs anything.
    Q("evt_matched_lift",
      s"""WITH $causalUsersSql, t AS (
        |  SELECT user_id, x, y, stratum FROM u WHERE grp = 1
        |), c AS (
        |  SELECT stratum, x, arg_min(y, user_id) AS c_y
        |  FROM u WHERE grp = 0 GROUP BY stratum, x
        |), b AS (
        |  SELECT t.user_id, t.x, t.y, t.stratum,
        |         c.x AS bx, c.c_y AS b_y
        |  FROM t ASOF LEFT JOIN c
        |    ON t.stratum = c.stratum AND t.x >= c.x
        |), f AS (
        |  SELECT t.user_id, c.x AS fx, c.c_y AS f_y
        |  FROM t ASOF LEFT JOIN c
        |    ON t.stratum = c.stratum AND t.x <= c.x
        |), m2 AS (
        |  SELECT b.user_id, b.x, b.y,
        |         CASE WHEN bx IS NULL THEN f_y
        |              WHEN fx IS NULL THEN b_y
        |              WHEN b.x - bx <= fx - b.x THEN b_y
        |              ELSE f_y END AS m_y,
        |         CASE WHEN bx IS NULL THEN fx - b.x
        |              WHEN fx IS NULL THEN b.x - bx
        |              WHEN b.x - bx <= fx - b.x THEN b.x - bx
        |              ELSE fx - b.x END AS dist
        |  FROM b JOIN f ON b.user_id = f.user_id
        |)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_treated,
        |       CAST(COUNT(m_y) AS BIGINT) AS n_matched,
        |       CAST(CAST(SUM(y - m_y) AS DOUBLE)
        |            / nullif(COUNT(m_y), 0) / 10000 AS DOUBLE) AS att,
        |       CAST(CAST(SUM(dist) AS DOUBLE)
        |            / nullif(COUNT(m_y), 0) / 10000 AS DOUBLE)
        |         AS mean_dist
        |FROM m2""".stripMargin) { (s, d) =>
      val u = causalUsersShared(s, d)
      val t = u.filter(col("grp") === 1)
        .select("user_id", "x", "y", "stratum")
      val c = u.filter(col("grp") === 0)
        .groupBy("stratum", "x")
        .agg(min(struct(col("user_id"), col("y"))).getField("y").as("c_y"))
      val back = Temporal.asOf(t, c, Seq("stratum"), "x", Seq("c_y"))
        .withColumnRenamed("asof_x", "bx")
        .withColumnRenamed("asof_c_y", "b_y")
      val both = Temporal.asOfForward(back, c, Seq("stratum"), "x",
          Seq("c_y"))
        .withColumnRenamed("asof_x", "fx")
        .withColumnRenamed("asof_c_y", "f_y")
      val backWins = col("bx").isNotNull && (col("fx").isNull ||
        col("x") - col("bx") <= col("fx") - col("x"))
      val m2 = both.select(col("user_id"), col("x"), col("y"),
        when(backWins, col("b_y")).otherwise(col("f_y")).as("m_y"),
        when(backWins, col("x") - col("bx"))
          .otherwise(col("fx") - col("x")).as("dist"))
      m2.agg(count(lit(1)).as("n_treated"),
          count(col("m_y")).as("n_matched"),
          sum(col("y") - col("m_y")).as("sdiff"),
          sum(col("dist")).as("sdist"))
        .select(col("n_treated"), col("n_matched"),
          (col("sdiff").cast("double")
            / nullif(col("n_matched"), lit(0L)) / 10000).as("att"),
          (col("sdist").cast("double")
            / nullif(col("n_matched"), lit(0L)) / 10000).as("mean_dist"))
    },

    // ── difference-in-differences (the third causal estimator) ─────────

    // Completes the causal trio (evt_ab_lift's z-test, evt_ab_cuped's
    // variance reduction, evt_matched_lift's matching): the classic
    // 2×2 DiD — per-arm mean revenue in the pre and post halves of the
    // month, effect = (Δ treated) − (Δ control), which nets out both
    // the arm-level baseline difference and the common time trend.
    // Same exact-integer user spine as evt_ab_cuped (BIGINT
    // ten-thousandths, broadcast calendar midpoint); the four cell
    // means and the DiD are pinned double division/subtraction chains.
    // One per-user rollup touches events; the output is one row.
    Q("evt_did",
      s"""WITH $causalUsersSql, g AS (
        |  SELECT CAST(SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |           AS na,
        |         CAST(SUM(CASE WHEN grp = 0 THEN x ELSE 0 END) AS BIGINT)
        |           AS sxa,
        |         CAST(SUM(CASE WHEN grp = 0 THEN y ELSE 0 END) AS BIGINT)
        |           AS sya,
        |         CAST(SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |           AS nb,
        |         CAST(SUM(CASE WHEN grp = 1 THEN x ELSE 0 END) AS BIGINT)
        |           AS sxb,
        |         CAST(SUM(CASE WHEN grp = 1 THEN y ELSE 0 END) AS BIGINT)
        |           AS syb
        |  FROM u
        |)
        |SELECT na AS n_ctrl, nb AS n_treat,
        |       CAST(CAST(sxa AS DOUBLE) / na / 10000 AS DOUBLE) AS pre_ctrl,
        |       CAST(CAST(sya AS DOUBLE) / na / 10000 AS DOUBLE)
        |         AS post_ctrl,
        |       CAST(CAST(sxb AS DOUBLE) / nb / 10000 AS DOUBLE) AS pre_treat,
        |       CAST(CAST(syb AS DOUBLE) / nb / 10000 AS DOUBLE)
        |         AS post_treat,
        |       CAST((CAST(syb AS DOUBLE) / nb / 10000
        |             - CAST(sxb AS DOUBLE) / nb / 10000)
        |            - (CAST(sya AS DOUBLE) / na / 10000
        |               - CAST(sxa AS DOUBLE) / na / 10000) AS DOUBLE)
        |         AS did
        |FROM g""".stripMargin) { (s, d) =>
      val u = causalUsersShared(s, d)
      val g = u.agg(
        sum(when(col("grp") === 0, 1L).otherwise(0L)).as("na"),
        sum(when(col("grp") === 0, col("x")).otherwise(0L)).as("sxa"),
        sum(when(col("grp") === 0, col("y")).otherwise(0L)).as("sya"),
        sum(when(col("grp") === 1, 1L).otherwise(0L)).as("nb"),
        sum(when(col("grp") === 1, col("x")).otherwise(0L)).as("sxb"),
        sum(when(col("grp") === 1, col("y")).otherwise(0L)).as("syb"))
      def mean(sc: String, nc: String) =
        col(sc).cast("double") / col(nc) / 10000
      g.select(col("na").as("n_ctrl"), col("nb").as("n_treat"),
        mean("sxa", "na").as("pre_ctrl"), mean("sya", "na").as("post_ctrl"),
        mean("sxb", "nb").as("pre_treat"), mean("syb", "nb").as("post_treat"),
        ((mean("syb", "nb") - mean("sxb", "nb"))
          - (mean("sya", "na") - mean("sxa", "na"))).as("did"))
    },

    // ── degree assortativity of the co-purchase graph ──────────────────

    // Newman's assortativity coefficient: the Pearson correlation of
    // endpoint degrees over the DIRECTED edge set (each undirected
    // co-purchase edge contributes both orientations — the standard
    // symmetric treatment). Positive r = hubs co-purchase with hubs
    // (assortative mixing); negative = hub-and-spoke. Same exact-
    // integer moment discipline as agg_corr_ols: degrees are BIGINTs,
    // moments DECIMAL(38,0) products, r ONE pinned double expression.
    // Scale shape: the edge build is graph_degree_dist's windowed
    // equi-join, the degree table joins back by key twice, and the
    // moments are one map-side-combined global aggregate.
    Q("graph_assortativity",
      """WITH e AS (
        |  SELECT DISTINCT a.l_partkey AS p1, b.l_partkey AS p2
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  WHERE a.l_partkey < 400 AND b.l_partkey < 400
        |), deg AS (
        |  SELECT p, CAST(COUNT(*) AS BIGINT) AS deg FROM (
        |    SELECT p1 AS p FROM e UNION ALL SELECT p2 AS p FROM e) x
        |  GROUP BY p
        |), de AS (
        |  SELECT da.deg AS dx, db.deg AS dy
        |  FROM (SELECT p1 AS u, p2 AS v FROM e
        |        UNION ALL SELECT p2 AS u, p1 AS v FROM e) dir
        |  JOIN deg da ON da.p = dir.u
        |  JOIN deg db ON db.p = dir.v
        |), m AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |         SUM(CAST(dx AS DECIMAL(38,0))) AS sx,
        |         SUM(CAST(dy AS DECIMAL(38,0))) AS sy,
        |         SUM(CAST(dx AS DECIMAL(38,0)) * CAST(dy AS DECIMAL(38,0)))
        |           AS sxy,
        |         SUM(CAST(dx AS DECIMAL(38,0)) * CAST(dx AS DECIMAL(38,0)))
        |           AS sxx,
        |         SUM(CAST(dy AS DECIMAL(38,0)) * CAST(dy AS DECIMAL(38,0)))
        |           AS syy
        |  FROM de
        |)
        |SELECT n // 2 AS n_edges,
        |       (SELECT CAST(COUNT(*) AS BIGINT) FROM deg) AS n_nodes,
        |       CAST(CAST(n * sxy - sx * sy AS DOUBLE)
        |            / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
        |               * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))
        |         AS DOUBLE) AS r
        |FROM m""".stripMargin) { (s, d) =>
      val D = org.apache.spark.sql.types.DecimalType(38, 0)
      // the SAME canonicalized edge plan the whole graph family shares
      // (r13 fix, centralized into Graph.coEdges in r14)
      val e = Graph.coEdges(s, d)
      // read twice below (da and db sides) — persist once
      val deg = graft.Caches.shared(e.select(col("p1").as("p"))
        .unionByName(e.select(col("p2").as("p")))
        .groupBy("p").agg(count(lit(1)).as("deg")))
      val dir = e.select(col("p1").as("u"), col("p2").as("v"))
        .unionByName(e.select(col("p2").as("u"), col("p1").as("v")))
      // deg is bounded by the part-window (≤400 rows) — broadcast both
      // sides so endpoint-degree lookup is map-side, no shuffle
      val de = dir
        .join(broadcast(deg.select(col("p").as("u"), col("deg").as("dx"))),
          Seq("u"))
        .join(broadcast(deg.select(col("p").as("v"), col("deg").as("dy"))),
          Seq("v"))
      val dx = col("dx").cast(D); val dy = col("dy").cast(D)
      val m = de.agg(count(lit(1)).as("n"),
        sum(dx).as("sx"), sum(dy).as("sy"), sum(dx * dy).as("sxy"),
        sum(dx * dx).as("sxx"), sum(dy * dy).as("syy"))
      val nNodes = deg.agg(count(lit(1)).as("n_nodes"))
      val nD = col("n").cast(D)
      val num = (nD * col("sxy") - col("sx") * col("sy")).cast("double")
      val vx = (nD * col("sxx") - col("sx") * col("sx")).cast("double")
      val vy = (nD * col("syy") - col("sy") * col("sy")).cast("double")
      m.crossJoin(broadcast(nNodes))
        .select(expr("n div 2").as("n_edges"), col("n_nodes"),
          (num / (sqrt(vx) * sqrt(vy))).as("r"))
    },

    // ── delta-method variance for ratio metrics ────────────────────────

    // The analytic companion to agg_bootstrap_ci: revenue-per-event is
    // a RATIO of sums (Σy/Σx over users), whose naive per-row variance
    // is wrong because the denominator is random too. The delta method
    // (a.k.a. linearization, the standard production fix) writes
    // d_u = y_u − R̂·x_u and Var(R̂) ≈ n·s²_d / (Σx)², all computable
    // from five exact DECIMAL(38,0) moments in ONE pass — no resample,
    // no second scan. R̂, s²_d, se, and the ±1.96·se bounds are pinned
    // double chains over those exact integers. Scale shape: one
    // map-side-combined per-user rollup, then a per-type moment
    // aggregate — two tiny shuffles on corpus-bounded keys.
    Q("agg_ratio_delta",
      """WITH u AS (
        |  SELECT event_type, user_id,
        |         CAST(COUNT(*) AS BIGINT) AS x,
        |         CAST(SUM(CAST(value AS DECIMAL(10,4))) * 10000
        |              AS BIGINT) AS y
        |  FROM events GROUP BY event_type, user_id
        |), m AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |         SUM(CAST(x AS DECIMAL(38,0))) AS sx,
        |         SUM(CAST(y AS DECIMAL(38,0))) AS sy,
        |         SUM(CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0)))
        |           AS sxx,
        |         SUM(CAST(y AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0)))
        |           AS syy,
        |         SUM(CAST(x AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0)))
        |           AS sxy
        |  FROM u GROUP BY event_type
        |), s AS (
        |  SELECT event_type, n,
        |         CAST(sy AS DOUBLE) / CAST(sx AS DOUBLE) AS rr,
        |         CAST(sx AS DOUBLE) AS sxd, CAST(sxx AS DOUBLE) AS sxxd,
        |         CAST(syy AS DOUBLE) AS syyd, CAST(sxy AS DOUBLE) AS sxyd
        |  FROM m
        |), v AS (
        |  SELECT event_type, n, rr,
        |         sqrt((syyd - 2 * rr * sxyd + rr * rr * sxxd) / (n - 1)
        |              * n / (sxd * sxd)) AS se
        |  FROM s
        |)
        |SELECT event_type, n AS n_users,
        |       CAST(rr / 10000 AS DOUBLE) AS revenue_per_event,
        |       CAST(se / 10000 AS DOUBLE) AS se,
        |       CAST(rr / 10000 - 1.96 * (se / 10000) AS DOUBLE) AS ci_lo,
        |       CAST(rr / 10000 + 1.96 * (se / 10000) AS DOUBLE) AS ci_hi
        |FROM v ORDER BY event_type""".stripMargin) { (s, d) =>
      val D = org.apache.spark.sql.types.DecimalType(38, 0)
      val u = Tables.events(s, d)
        .groupBy("event_type", "user_id")
        .agg(count(lit(1)).as("x"),
          (sum(col("value").cast("decimal(10,4)")) * 10000)
            .cast("long").as("y"))
      val xD = col("x").cast(D); val yD = col("y").cast(D)
      val m = u.groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(xD).as("sx"), sum(yD).as("sy"),
          sum(xD * xD).as("sxx"), sum(yD * yD).as("syy"),
          sum(xD * yD).as("sxy"))
      val rr = col("sy").cast("double") / col("sx").cast("double")
      val sxd = col("sx").cast("double")
      val se = sqrt((col("syy").cast("double")
        - lit(2) * rr * col("sxy").cast("double")
        + rr * rr * col("sxx").cast("double")) / (col("n") - 1)
        * col("n") / (sxd * sxd))
      m.select(col("event_type"), col("n").as("n_users"),
          (rr / 10000).as("revenue_per_event"), (se / 10000).as("se"),
          (rr / 10000 - lit(1.96) * (se / 10000)).as("ci_lo"),
          (rr / 10000 + lit(1.96) * (se / 10000)).as("ci_hi"))
        .orderBy("event_type")
    },

    // ── Poisson-bootstrap confidence intervals ─────────────────────────

    // The one-pass distributed bootstrap (Chamandy et al., Google
    // '12): resampling n rows WITH replacement decomposes into an
    // independent Poisson(1) weight per (row, replica), so B = 32
    // replica means of each event type's value ride ONE exploded
    // map-side-combined aggregate — no per-replica passes, no RNG
    // state. Weights are DETERMINISTIC: replica b's uniform u is a
    // 16-bit (4 hex char) SLICE of one of four per-row md5s
    // (md5('boot<b/8>#'‖event_id), slice (b%8) — 4 hash invocations
    // per row, not 32: the md5 is the whole query's cost at sf0.1,
    // and a 128-bit digest already holds eight independent 16-bit
    // uniforms), inverse-CDF'd through Poisson(1) cumulative
    // thresholds embedded as hex literals (computed once from e⁻¹,
    // capped at w = 5 — P(w>5) ≈ 6·10⁻⁴, and the cap is what makes
    // both engines produce the identical integer weight). Replica
    // means are exact-integer num/den pairs with single pinned double
    // divisions; the 90% interval is the (2nd, 31st) ORDER STATISTIC
    // of the 32 means ((B+1)·5% — rank-based, no interpolation to
    // disagree across engines). Scale shape: the hashes ride the
    // pre-explode rows, and the ×32 explode feeds a (type, replica)-
    // keyed partial agg — at 100 TB this is the standard production
    // bootstrap plan.
    Q("agg_bootstrap_ci", {
      val p = math.exp(-1.0)
      val cum = Seq(p, 2 * p, 2.5 * p, 8.0 / 3 * p, 65.0 / 24 * p)
      val t = cum.map(c => f"${math.floor(c * 65536.0).toLong}%04x")
      val hs = (0 until 4).map(g =>
        s"md5(concat('boot$g#', CAST(event_id AS VARCHAR))) AS h$g")
        .mkString(",\n         ")
      s"""WITH xr AS (
         |  SELECT event_type, event_id,
         |         CAST(CAST(value AS DECIMAL(10,4)) * 10000 AS BIGINT)
         |           AS x
         |  FROM events
         |), hx AS (
         |  SELECT event_type, x,
         |         $hs
         |  FROM xr
         |), wts AS (
         |  SELECT event_type, x, b,
         |         CAST(CASE
         |           WHEN u < '${t(0)}' THEN 0 WHEN u < '${t(1)}' THEN 1
         |           WHEN u < '${t(2)}' THEN 2 WHEN u < '${t(3)}' THEN 3
         |           WHEN u < '${t(4)}' THEN 4 ELSE 5 END AS BIGINT) AS w
         |  FROM (
         |    SELECT event_type, x, r.b AS b,
         |           substr(CASE CAST(r.b // 8 AS INTEGER)
         |                    WHEN 0 THEN h0 WHEN 1 THEN h1
         |                    WHEN 2 THEN h2 ELSE h3 END,
         |                  CAST((r.b % 8) * 4 + 1 AS INTEGER), 4) AS u
         |    FROM hx, UNNEST(range(0, 32)) AS r(b)) y
         |), rep AS (
         |  SELECT event_type, CAST(b AS BIGINT) AS b,
         |         SUM(CAST(w * x AS DECIMAL(38,0))) AS num,
         |         CAST(SUM(w) AS BIGINT) AS den
         |  FROM wts GROUP BY 1, 2
         |), means AS (
         |  SELECT event_type,
         |         CAST(CAST(num AS DOUBLE) / den / 10000
         |              AS DOUBLE) AS mb,
         |         row_number() OVER (PARTITION BY event_type
         |           ORDER BY CAST(CAST(num AS DOUBLE) / den
         |                         / 10000 AS DOUBLE), b) AS rn
         |  FROM rep WHERE den > 0
         |), pt AS (
         |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_rows,
         |         CAST(CAST(SUM(x) AS DOUBLE) / COUNT(*) / 10000
         |              AS DOUBLE) AS mean
         |  FROM xr GROUP BY event_type
         |)
         |SELECT p.event_type, p.n_rows, p.mean,
         |       MAX(CASE WHEN rn = 2 THEN mb END) AS ci_lo,
         |       MAX(CASE WHEN rn = 31 THEN mb END) AS ci_hi
         |FROM pt p JOIN means m ON p.event_type = m.event_type
         |GROUP BY p.event_type, p.n_rows, p.mean
         |ORDER BY p.event_type""".stripMargin
    }) { (s, d) =>
      val p = math.exp(-1.0)
      val cum = Seq(p, 2 * p, 2.5 * p, 8.0 / 3 * p, 65.0 / 24 * p)
      val t = cum.map(c => f"${math.floor(c * 65536.0).toLong}%04x")
      val xr = Tables.events(s, d)
        .select(col("event_type"), col("event_id"),
          (col("value").cast("decimal(10,4)") * 10000).cast("long")
            .as("x"))
      val hx = xr.select(col("event_type"), col("x"),
        array((0 until 4).map(g => md5(concat(lit(s"boot$g#"),
          col("event_id").cast("string")))): _*).as("hs"))
      val u = element_at(col("hs"), (col("b") / 8).cast("int") + 1)
        .substr((col("b") % 8).cast("int") * 4 + 1, lit(4))
      val w = when(u < t(0), 0L).when(u < t(1), 1L).when(u < t(2), 2L)
        .when(u < t(3), 3L).when(u < t(4), 4L).otherwise(5L)
      val rep = hx
        .select(col("event_type"), col("hs"), col("x"),
          explode(sequence(lit(0L), lit(31L))).as("b"))
        .select(col("event_type"), col("b"), col("x"), w.as("w"))
        .groupBy("event_type", "b")
        .agg(sum((col("w") * col("x"))
            .cast(org.apache.spark.sql.types.DecimalType(38, 0)))
          .as("num"), sum("w").as("den"))
      // a replica whose Poisson weights sum to 0 (possible on tiny
      // groups) has NO mean — DROP it identically in both engines
      // rather than ranking a NULL (Spark windows sort NULLS FIRST,
      // DuckDB NULLS LAST — a latent cross-engine divergence)
      val mb = col("num").cast("double") / col("den") / 10000
      val wr = Window.partitionBy("event_type").orderBy(mb, col("b"))
      val means = rep.filter(col("den") > 0)
        .select(col("event_type"), mb.as("mb"),
          row_number().over(wr).as("rn"))
      val pt = xr.groupBy("event_type")
        .agg(count(lit(1)).as("n_rows"), sum("x").as("sx"))
        .select(col("event_type"), col("n_rows"),
          (col("sx").cast("double") / col("n_rows") / 10000).as("mean"))
      pt.join(means, Seq("event_type"))
        .groupBy("event_type", "n_rows", "mean")
        .agg(max(when(col("rn") === 2, col("mb"))).as("ci_lo"),
          max(when(col("rn") === 31, col("mb"))).as("ci_hi"))
        .orderBy("event_type")
    },

    // ── Ljung–Box portmanteau test on the daily-revenue ACF ────────────

    // The whiteness test that belongs beside ts_acf: Q_h = n(n+2)
    // Σ_{k=1..7} r_k²/(n−k), where r_k is exactly ts_acf's lag-k
    // estimate (Pearson over CALENDAR-shifted pairs in integer $1000
    // units — every sufficient statistic an int64 below 2⁵³, so each
    // r_k is bit-equal across engines by the ts_acf argument). The
    // 7-term sum is a hand-unrolled LEFT-ASSOCIATED chain, identical
    // text on both sides (SUM over doubles would be order-arbitrary —
    // rule 3); n is the series length (day count). The verdict column
    // compares Q_7 against the χ²(7) 95% critical value as a pinned
    // literal — daily revenue is strongly autocorrelated, so the
    // fixture rejects whiteness at every SF (the spec pins that, plus
    // an exact in-JVM replay). Scale shape: everything downstream of
    // the one map-side-combined daily rollup is calendar-bounded —
    // 7 lag rows fold into ONE output row.
    Q("ts_ljung_box",
      """WITH dly AS (
        |  SELECT date_diff('day', DATE '1992-01-01',
        |           CAST(o_orderdate AS DATE)) AS di,
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(12,4))) * 100
        |           AS BIGINT) // 100000 AS rev
        |  FROM orders GROUP BY 1
        |), n0 AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n FROM dly
        |), lags AS (
        |  SELECT unnest(generate_series(1, 7)) AS k
        |), p AS (
        |  SELECT l.k, a.rev AS x, b.rev AS y
        |  FROM lags l JOIN dly b ON TRUE
        |  JOIN dly a ON a.di = b.di + l.k
        |), st AS (
        |  SELECT k, COUNT(*) AS np, SUM(x) AS sx, SUM(y) AS sy,
        |         SUM(x * y) AS sxy, SUM(x * x) AS sxx, SUM(y * y) AS syy
        |  FROM p GROUP BY k
        |), r AS (
        |  SELECT k,
        |         CAST((CAST(np AS DOUBLE) * CAST(sxy AS DOUBLE)
        |                - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |              / (sqrt(CAST(np AS DOUBLE) * CAST(sxx AS DOUBLE)
        |                      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |                 * sqrt(CAST(np AS DOUBLE) * CAST(syy AS DOUBLE)
        |                        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
        |           AS DOUBLE) AS acf
        |  FROM st
        |), piv AS (
        |  SELECT MAX(CASE WHEN k = 1 THEN acf END) AS r1,
        |         MAX(CASE WHEN k = 2 THEN acf END) AS r2,
        |         MAX(CASE WHEN k = 3 THEN acf END) AS r3,
        |         MAX(CASE WHEN k = 4 THEN acf END) AS r4,
        |         MAX(CASE WHEN k = 5 THEN acf END) AS r5,
        |         MAX(CASE WHEN k = 6 THEN acf END) AS r6,
        |         MAX(CASE WHEN k = 7 THEN acf END) AS r7
        |  FROM r
        |)
        |SELECT n0.n AS n_days,
        |       CAST(CAST(n0.n AS DOUBLE) * (CAST(n0.n AS DOUBLE) + 2.0)
        |         * (r1 * r1 / (CAST(n0.n AS DOUBLE) - 1.0)
        |            + r2 * r2 / (CAST(n0.n AS DOUBLE) - 2.0)
        |            + r3 * r3 / (CAST(n0.n AS DOUBLE) - 3.0)
        |            + r4 * r4 / (CAST(n0.n AS DOUBLE) - 4.0)
        |            + r5 * r5 / (CAST(n0.n AS DOUBLE) - 5.0)
        |            + r6 * r6 / (CAST(n0.n AS DOUBLE) - 6.0)
        |            + r7 * r7 / (CAST(n0.n AS DOUBLE) - 7.0)) AS DOUBLE)
        |         AS q7,
        |       CAST(n0.n AS DOUBLE) * (CAST(n0.n AS DOUBLE) + 2.0)
        |         * (r1 * r1 / (CAST(n0.n AS DOUBLE) - 1.0)
        |            + r2 * r2 / (CAST(n0.n AS DOUBLE) - 2.0)
        |            + r3 * r3 / (CAST(n0.n AS DOUBLE) - 3.0)
        |            + r4 * r4 / (CAST(n0.n AS DOUBLE) - 4.0)
        |            + r5 * r5 / (CAST(n0.n AS DOUBLE) - 5.0)
        |            + r6 * r6 / (CAST(n0.n AS DOUBLE) - 6.0)
        |            + r7 * r7 / (CAST(n0.n AS DOUBLE) - 7.0))
        |         > 14.067140449340169 AS reject_white
        |FROM n0, piv""".stripMargin) { (s, d) =>
      val dly = Tables.orders(s, d)
        .groupBy(datediff(col("o_orderdate").cast("date"),
          to_date(lit("1992-01-01"))).as("di"))
        .agg((sum(col("o_totalprice").cast(Tables.M)) * 100)
          .cast("long").as("cents"))
        .select(col("di"), expr("cents div 100000").as("rev"))
      val lags = s.range(1, 8).select(col("id").as("k"))
      val shifted = dly.select(col("di").as("bdi"), col("rev").as("y"))
        .crossJoin(broadcast(lags))
        .select(col("k"), (col("bdi") + col("k")).as("di"), col("y"))
      val st = dly.select(col("di"), col("rev").as("x"))
        .join(shifted, Seq("di"))
        .groupBy("k")
        .agg(count(lit(1)).as("np"), sum("x").as("sx"), sum("y").as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"))
      val acf =
        (col("np").cast("double") * col("sxy").cast("double")
          - col("sx").cast("double") * col("sy").cast("double")) /
          (sqrt(col("np").cast("double") * col("sxx").cast("double")
            - col("sx").cast("double") * col("sx").cast("double"))
            * sqrt(col("np").cast("double") * col("syy").cast("double")
              - col("sy").cast("double") * col("sy").cast("double")))
      val rAggs = (1 to 7).map(k =>
        max(when(col("k") === k, col("acf"))).as(s"r$k"))
      val piv = st.select(col("k"), acf.as("acf"))
        .agg(rAggs.head, rAggs.tail: _*)
      val n0 = dly.agg(count(lit(1)).as("n_days"))
      val nD = col("n_days").cast("double")
      val q7 = nD * (nD + lit(2.0)) *
        (1 to 7).map(k =>
          col(s"r$k") * col(s"r$k") / (nD - lit(k.toDouble)))
          .reduce(_ + _)
      n0.crossJoin(broadcast(piv))
        .select(col("n_days"), q7.as("q7"),
          (q7 > lit(14.067140449340169)).as("reject_white"))
    },

    // ── lead-lag cross-correlation between two event series ────────────

    // Does VIEW activity lead PURCHASES? Pearson correlation between
    // the daily view count and the purchase count shifted by k days,
    // for k ∈ [−7, 7] — the lead-lag discovery scan behind "which
    // metric moves first" (positive-k peak ⇒ views lead). Same
    // engine-parity route as ts_acf: the series are exact integer
    // DAILY COUNTS (no quantization needed), the shift is an equi-join
    // on the integer day against a 15-row broadcast lag table (no
    // window, no sequential pass), every sufficient statistic an
    // int64 < 2⁵³, and each correlation is one pinned double chain.
    // Lag 0 included as the sanity anchor. Scale shape: one map-side
    // rollup to calendar-sized series; everything after is bounded by
    // days × 15.
    Q("ts_lead_lag_corr",
      """WITH dly AS (
        |  SELECT (CAST(ts AS DATE) - DATE '1970-01-01') AS day,
        |         CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |           AS BIGINT) AS x,
        |         CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
        |           END) AS BIGINT) AS y
        |  FROM events GROUP BY 1
        |), lags AS (
        |  SELECT unnest(generate_series(-7, 7)) AS k
        |), p AS (
        |  SELECT l.k, a.x, b.y
        |  FROM lags l JOIN dly a ON TRUE
        |  JOIN dly b ON b.day = a.day + l.k
        |), st AS (
        |  SELECT k, COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
        |         SUM(x * y) AS sxy, SUM(x * x) AS sxx, SUM(y * y) AS syy
        |  FROM p GROUP BY k
        |)
        |SELECT CAST(k AS BIGINT) AS k, CAST(n AS BIGINT) AS n,
        |       CAST((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |            / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |               * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
        |                      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
        |         AS DOUBLE) AS xcorr
        |FROM st ORDER BY k""".stripMargin) { (s, d) =>
      val dly = Tables.events(s, d)
        .groupBy(datediff(col("ts").cast("date"), lit("1970-01-01"))
          .as("day"))
        .agg(sum(when(col("event_type") === "view", 1L).otherwise(0L))
            .as("x"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("y"))
      val lags = s.range(-7, 8).select(col("id").as("k"))
      val shifted = dly.select(col("day").as("bday"), col("y"))
        .crossJoin(broadcast(lags))
        .select(col("k"), (col("bday") - col("k")).as("day"), col("y"))
      val st = dly.select(col("day"), col("x"))
        .join(shifted, Seq("day"))
        .groupBy("k")
        .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"))
      st.select(col("k"), col("n"),
          ((col("n").cast("double") * col("sxy").cast("double")
            - col("sx").cast("double") * col("sy").cast("double"))
            / (sqrt(col("n").cast("double") * col("sxx").cast("double")
                - col("sx").cast("double") * col("sx").cast("double"))
              * sqrt(col("n").cast("double") * col("syy").cast("double")
                - col("sy").cast("double") * col("sy").cast("double"))))
            .as("xcorr"))
        .orderBy("k")
    },

    // ── seasonal / trend strength of the STL decomposition ─────────────

    // Hyndman's strength-of-component summary on ts_stl's ledger:
    // F_seasonal = max(0, 1 − Var(R)/Var(S+R)) and F_trend = max(0,
    // 1 − Var(R)/Var(T+R)) per series — the one-number answer to "is
    // this series worth seasonally adjusting". Parity route: the STL
    // components are pinned doubles (bit-identical across engines — the
    // ts_stl hash gate proves it), so QUANTIZE each to exact centi-unit
    // integers via floor(x·100) — floor of a bit-identical double is
    // engine-exact — and compute every variance numerator n·Σx²−(Σx)²
    // in DECIMAL(38,0) with the ts_anomaly 2⁶³ raise_error bound before
    // the one double conversion per ratio. Variances share n, so the
    // ratio of numerators IS the variance ratio. Scale shape: third
    // consumer of the Caches.shared stlParts kernel; per-series
    // aggregates over calendar-bounded interior days.
    Q("ts_seasonal_strength", {
      def vnum(x: String) =
        s"COUNT(*) * SUM(CAST($x AS HUGEINT) * $x) - CAST(SUM($x) AS HUGEINT) * SUM($x)"
      s"""WITH $stlSql, qz AS (
         |  SELECT event_type,
         |         CAST(floor(residual * 100) AS BIGINT) AS rc,
         |         CAST(floor((seasonal + residual) * 100) AS BIGINT) AS sc,
         |         CAST(floor((trend + residual) * 100) AS BIGINT) AS tc
         |  FROM stl
         |), v AS (
         |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
         |         ${vnum("rc")} AS nr,
         |         ${vnum("sc")} AS ns,
         |         ${vnum("tc")} AS nt
         |  FROM qz GROUP BY event_type
         |)
         |SELECT event_type, n,
         |       greatest(0.0e0, 1.0e0 - CAST(nr AS DOUBLE)
         |                / CAST(nullif(ns, 0) AS DOUBLE)) AS f_seasonal,
         |       greatest(0.0e0, 1.0e0 - CAST(nr AS DOUBLE)
         |                / CAST(nullif(nt, 0) AS DOUBLE)) AS f_trend
         |FROM v ORDER BY event_type""".stripMargin
    }) { (s, d) =>
      val D38 = org.apache.spark.sql.types.DecimalType(38, 0)
      def guard(c: Column, what: String): Column =
        when(c < lit(Long.MaxValue).cast(D38) &&
          c > lit(Long.MinValue).cast(D38), c)
          .otherwise(raise_error(concat(
            lit(s"ts_seasonal_strength: $what passed the exact " +
              "double-conversion bound 2^63 — "), c.cast("string"))))
      def vnum(x: Column) = count(lit(1)) * sum(x.cast(D38) * x) -
        sum(x).cast(D38) * sum(x)
      val qz = graft.Caches.shared(stlParts(s, d))
        .select(col("event_type"),
          floor(col("residual") * 100).cast("long").as("rc"),
          floor((col("seasonal") + col("residual")) * 100).cast("long")
            .as("sc"),
          floor((col("trend") + col("residual")) * 100).cast("long")
            .as("tc"))
      qz.groupBy("event_type")
        .agg(count(lit(1)).as("n"), vnum(col("rc")).as("nr"),
          vnum(col("sc")).as("ns"), vnum(col("tc")).as("nt"))
        .select(col("event_type"), col("n"),
          greatest(lit(0.0), lit(1.0) - guard(col("nr"), "Var(R) numerator")
            .cast("double") / nullif(guard(col("ns"),
              "Var(S+R) numerator"), lit(0)).cast("double")).as("f_seasonal"),
          greatest(lit(0.0), lit(1.0) - guard(col("nr"), "Var(R) numerator")
            .cast("double") / nullif(guard(col("nt"),
              "Var(T+R) numerator"), lit(0)).cast("double")).as("f_trend"))
        .orderBy("event_type")
    },

    // ── IPW / stratified lift ledger (the fifth causal estimator) ──────

    // Inverse-propensity weighting with the stratum-frequency propensity
    // p̂(s) = n_t(s)/n(s) — which is algebraically the classic stratified
    // estimator: ATE = Σ_s (n_s/N)·(ȳ_t,s − ȳ_c,s). The engine emits the
    // PER-STRATUM ledger (exact integer counts and revenue sums off the
    // shared causalUsers spine, the actual IPW weights n/n_t and n/n_c,
    // and the stratum lift as pinned double chains) rather than the
    // single folded scalar: the fold is a ≤16-row driver-side reduction
    // (strata = distinct pre-period active-day counts, calendar-bounded),
    // while a SQL SUM over the per-stratum doubles would be
    // order-arbitrary (rule 3). Degenerate strata (one arm empty) carry
    // NULL means via nullif on both engines instead of diverging
    // error/null behavior. Scale shape: one map-side user rollup → one
    // ≤16-group aggregate; nothing corpus-scale past the spine.
    Q("evt_ipw_lift",
      s"""WITH $causalUsersSql, g AS (
         |  SELECT stratum, CAST(COUNT(*) AS BIGINT) AS n_users,
         |         CAST(SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |           AS n_treated,
         |         CAST(SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |           AS n_control,
         |         CAST(SUM(CASE WHEN grp = 1 THEN y ELSE 0 END) AS BIGINT)
         |           AS yt,
         |         CAST(SUM(CASE WHEN grp = 0 THEN y ELSE 0 END) AS BIGINT)
         |           AS yc
         |  FROM u GROUP BY stratum
         |)
         |SELECT stratum, n_users, n_treated, n_control,
         |       CAST(n_users AS DOUBLE) / nullif(n_treated, 0) AS w_treated,
         |       CAST(n_users AS DOUBLE) / nullif(n_control, 0) AS w_control,
         |       CAST(yt AS DOUBLE) / nullif(n_treated, 0) / 10000
         |         AS mean_treated,
         |       CAST(yc AS DOUBLE) / nullif(n_control, 0) / 10000
         |         AS mean_control,
         |       CAST(yt AS DOUBLE) / nullif(n_treated, 0) / 10000
         |         - CAST(yc AS DOUBLE) / nullif(n_control, 0) / 10000
         |         AS lift
         |FROM g ORDER BY stratum""".stripMargin) { (s, d) =>
      val u = causalUsersShared(s, d)
      val g = u.groupBy("stratum")
        .agg(count(lit(1)).as("n_users"),
          sum(when(col("grp") === 1, 1L).otherwise(0L)).as("n_treated"),
          sum(when(col("grp") === 0, 1L).otherwise(0L)).as("n_control"),
          sum(when(col("grp") === 1, col("y")).otherwise(0L)).as("yt"),
          sum(when(col("grp") === 0, col("y")).otherwise(0L)).as("yc"))
      val mt = col("yt").cast("double") / nullif(col("n_treated"), lit(0)) /
        10000
      val mc = col("yc").cast("double") / nullif(col("n_control"), lit(0)) /
        10000
      g.select(col("stratum"), col("n_users"), col("n_treated"),
          col("n_control"),
          (col("n_users").cast("double") / nullif(col("n_treated"), lit(0)))
            .as("w_treated"),
          (col("n_users").cast("double") / nullif(col("n_control"), lit(0)))
            .as("w_control"),
          mt.as("mean_treated"), mc.as("mean_control"),
          (mt - mc).as("lift"))
        .orderBy("stratum")
    },

    // ── experiment sizing: post-hoc MDE of the A/B split ───────────────

    // The minimum detectable effect the evt_ab_lift experiment could
    // have resolved at α = 0.05 (two-sided) / power 0.80: MDE =
    // (z_{0.975} + z_{0.80})·se with se = √(p̄(1−p̄)(1/n_a+1/n_b)) — the
    // answer to "was this test even big enough", computed from the SAME
    // four exact integers as the z-test. The z-quantile sum is ONE
    // Scala-side double literal interpolated into BOTH engine texts
    // (double toString round-trips, so DuckDB parses the identical
    // bits); everything after is a pinned chain. One row out.
    Q("evt_power_mde", {
      val zsum = 1.959963984540054 + 0.8416212335729143
      """WITH u AS (
        |  SELECT user_id, CAST(user_id % 2 AS INTEGER) AS grp,
        |         MAX(CASE WHEN event_type = 'purchase' AND value > 150
        |             THEN 1 ELSE 0 END) AS conv
        |  FROM events GROUP BY user_id
        |), g AS (
        |  SELECT CAST(SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT) AS na,
        |         CAST(SUM(CASE WHEN grp = 0 THEN conv ELSE 0 END) AS BIGINT) AS ca,
        |         CAST(SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nb,
        |         CAST(SUM(CASE WHEN grp = 1 THEN conv ELSE 0 END) AS BIGINT) AS cb
        |  FROM u
        |)
        |SELECT na AS n_a, nb AS n_b,
        |       CAST(CAST(ca + cb AS DOUBLE) / (na + nb) AS DOUBLE) AS p_pool,
        |       sqrt((CAST(ca + cb AS DOUBLE) / (na + nb))
        |            * (1.0e0 - CAST(ca + cb AS DOUBLE) / (na + nb))
        |            * (1.0e0 / na + 1.0e0 / nb)) AS se,
        |       """.stripMargin +
        s"""$zsum * sqrt((CAST(ca + cb AS DOUBLE) / (na + nb))
           |            * (1.0e0 - CAST(ca + cb AS DOUBLE) / (na + nb))
           |            * (1.0e0 / na + 1.0e0 / nb)) AS mde_abs,
           |       $zsum * sqrt((CAST(ca + cb AS DOUBLE) / (na + nb))
           |            * (1.0e0 - CAST(ca + cb AS DOUBLE) / (na + nb))
           |            * (1.0e0 / na + 1.0e0 / nb))
           |         / nullif(CAST(ca AS DOUBLE) / na, 0.0e0) AS mde_rel
           |FROM g""".stripMargin
    }) { (s, d) =>
      val zsum = 1.959963984540054 + 0.8416212335729143
      val u = Tables.events(s, d)
        .groupBy("user_id")
        .agg(max(when(col("event_type") === "purchase" && col("value") > 150,
          1).otherwise(0)).as("conv"))
        .withColumn("grp", (col("user_id") % 2).cast("int"))
      val g = u.agg(
        sum(when(col("grp") === 0, 1).otherwise(0)).as("na"),
        sum(when(col("grp") === 0, col("conv")).otherwise(0)).as("ca"),
        sum(when(col("grp") === 1, 1).otherwise(0)).as("nb"),
        sum(when(col("grp") === 1, col("conv")).otherwise(0)).as("cb"))
      val pPool = (col("ca") + col("cb")).cast("double") /
        (col("na") + col("nb"))
      val se = sqrt(pPool * (lit(1.0) - pPool) *
        (lit(1.0) / col("na") + lit(1.0) / col("nb")))
      g.select(col("na").as("n_a"), col("nb").as("n_b"),
        pPool.as("p_pool"), se.as("se"),
        (lit(zsum) * se).as("mde_abs"),
        (lit(zsum) * se /
          nullif(col("ca").cast("double") / col("na"), lit(0.0)))
          .as("mde_rel"))
    },

    // ── rank AUC: does pre-period spend predict post-period purchase ───

    // The offline-eval staple, exactly: AUC of the score "pre-period
    // revenue" against the label "post-period revenue > $200" via the
    // Mann–Whitney rank identity AUC = (Σ_pos midrank − n_p(n_p+1)/2)
    // /(n_p·n_n), with ties at midranks. Everything is exact integers:
    // DOUBLED midranks (2·mid = rmin + rmax per tied score group) avoid
    // the /2, auc_ppm = 10⁶·(Σ2mid − n_p(n_p+1)) div (2·n_p·n_n) — all
    // operands non-negative, so Spark's truncating div ≡ DuckDB's
    // flooring // — and the one double is a single division of two
    // exact int64s. The $200 threshold keeps both classes populated at
    // every SF (y > 0 is degenerate: every fixture user purchases
    // post-period). Scale shape: the global score ordering rides
    // Ranking.globalRowNumber, tie-group stats are a hash agg on the
    // score, and the ledger folds to one row.
    Q("evt_score_auc",
      s"""WITH $causalUsersSql, rk AS (
         |  SELECT user_id, x, CASE WHEN y > 2000000 THEN 1 ELSE 0 END AS pos,
         |         rank() OVER (ORDER BY x) AS rmin,
         |         COUNT(*) OVER (PARTITION BY x) AS cnt
         |  FROM u
         |), tot AS (
         |  SELECT CAST(SUM(pos) AS BIGINT) AS np,
         |         CAST(COUNT(*) - SUM(pos) AS BIGINT) AS nn,
         |         CAST(SUM(CASE WHEN pos = 1
         |                  THEN 2 * rmin + cnt - 1 ELSE 0 END) AS BIGINT)
         |           AS sdr
         |  FROM rk
         |)
         |SELECT np AS n_pos, nn AS n_neg,
         |       CAST((1000000 * (sdr - np * (np + 1)))
         |            // nullif(2 * np * nn, 0) AS BIGINT) AS auc_ppm,
         |       CAST(CAST(sdr - np * (np + 1) AS DOUBLE)
         |            / CAST(nullif(2 * np * nn, 0) AS DOUBLE) AS DOUBLE)
         |         AS auc
         |FROM tot""".stripMargin) { (s, d) =>
      val u = causalUsersShared(s, d)
        .select(col("user_id"), col("x"),
          when(col("y") > 2000000L, 1L).otherwise(0L).as("pos"))
      val ranked = Ranking.globalRowNumber(u, Seq("x", "user_id"))
      val xs = ranked.groupBy("x")
        .agg(min("row_num").as("rmin"), max("row_num").as("rmax"))
      val tot = ranked.filter(col("pos") === 1)
        .join(xs, Seq("x"))
        .agg(sum(col("rmin") + col("rmax")).as("sdr"),
          count(lit(1)).as("np"))
        .crossJoin(broadcast(ranked.agg(count(lit(1)).as("ntot"))))
        .select(col("np"), (col("ntot") - col("np")).as("nn"), col("sdr"))
      tot.select(col("np").as("n_pos"), col("nn").as("n_neg"),
        expr("(1000000 * (sdr - np * (np + 1))) div nullif(2 * np * nn, 0)")
          .as("auc_ppm"),
        ((col("sdr") - col("np") * (col("np") + 1)).cast("double")
          / nullif((lit(2) * col("np") * col("nn")), lit(0)).cast("double"))
          .as("auc"))
    },

    // ── daily sample-ratio-mismatch trace ──────────────────────────────

    // The FIRST check any experimentation platform runs, per day: with
    // user_id % 2 assignment (evt_ab_lift's arms) the daily active
    // split must be ~50/50; a skewed split means broken logging or
    // biased triggering, and every lift number downstream is garbage.
    // One-df chi-square vs the 50/50 expectation: χ² = (n_a−n_b)²/n,
    // flagged at the 95% critical value 3.841 by exact integer
    // cross-multiplication ((n_a−n_b)²·1000 > 3841·n — no float in the
    // decision). Scale shape: one distinct (day, user) pass then a
    // calendar-bounded day rollup, all map-side combinable.
    Q("evt_srm_trace", srmSql(closedOnly = false)) { (s, d) =>
      val ud = Tables.events(s, d)
        .select(col("ts").cast("date").as("day"), col("user_id"))
        .distinct()
      ud.groupBy("day")
        .agg(sum(when(col("user_id") % 2 === 0, 1).otherwise(0))
          .cast("long").as("n_a"),
          sum(when(col("user_id") % 2 === 1, 1).otherwise(0))
            .cast("long").as("n_b"))
        .select(col("day"), col("n_a"), col("n_b"),
          (((col("n_a") - col("n_b")) * (col("n_a") - col("n_b")))
            .cast("double") / (col("n_a") + col("n_b"))).as("chi2"),
          ((col("n_a") - col("n_b")) * (col("n_a") - col("n_b")) * 1000 >
            lit(3841) * (col("n_a") + col("n_b"))).as("srm_flag"))
        .orderBy("day")
    },

    // ── streaming SRM feed, driver-visible (§2.10) ─────────────────────

    // StreamSrm's closed-day arm splits vs the batch evt_srm_trace
    // restricted to the same closure predicate — the NINTH driver-
    // visible streaming row, and the first through Spark's NATIVE
    // streaming surface (dropDuplicatesWithinWatermark + tumbling
    // window Append) rather than a custom GroupState operator. The
    // chi-square and its integer-cross-multiplied gate are computed on
    // the emitted counts here, identically to the batch query.
    Q("stream_srm_feed", srmSql(closedOnly = true)) { (s, d) =>
      graft.streaming.StreamSrm
        .runAvailableNow(s, d, "stream_srm_feed_sink")
        .select(col("day"), col("n_a"), col("n_b"),
          (((col("n_a") - col("n_b")) * (col("n_a") - col("n_b")))
            .cast("double") / (col("n_a") + col("n_b"))).as("chi2"),
          ((col("n_a") - col("n_b")) * (col("n_a") - col("n_b")) * 1000 >
            lit(3841) * (col("n_a") + col("n_b"))).as("srm_flag"))
        .orderBy("day")
    },

    // ── supplier concentration (Herfindahl-Hirschman index) ────────────

    // Market-concentration audit per nation: HHI = Σ share², the
    // number a supply-chain risk review reads first (10000·HHI > 2500
    // ppm-scaled ⇒ "highly concentrated" in the DOJ convention). Exact
    // channel: per-supplier revenue as exact BIGINT whole dollars
    // (cents div 100 — positive, so div ≡ floor both engines), Σd and
    // Σd² exact BIGINTs within 2⁵³ at driver SFs, then ONE pinned
    // double chain floor(Σd²·10⁶ / (T·T)) — identical IEEE ops both
    // engines. Scale shape: one map-side supplier rollup (supplier
    // cardinality ≪ lineitem), broadcast nation dims, nation-level agg.
    Q("agg_hhi",
      """WITH rev AS (
        |  SELECT l_suppkey,
        |         CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,4))
        |              * 100 AS DECIMAL(38,0))) AS BIGINT) // 100 AS d
        |  FROM lineitem GROUP BY l_suppkey
        |), bysup AS (
        |  SELECT s_nationkey, d FROM rev
        |  JOIN supplier ON s_suppkey = l_suppkey
        |), g AS (
        |  SELECT s_nationkey, CAST(COUNT(*) AS BIGINT) AS n_suppliers,
        |         CAST(SUM(d) AS BIGINT) AS total_dollars,
        |         CAST(SUM(d * d) AS BIGINT) AS s2
        |  FROM bysup GROUP BY s_nationkey
        |)
        |SELECT n_name AS nation, n_suppliers, total_dollars,
        |       CAST(floor(CAST(s2 AS DOUBLE) * 1000000.0
        |            / (CAST(total_dollars AS DOUBLE)
        |               * CAST(total_dollars AS DOUBLE))) AS BIGINT)
        |         AS hhi_ppm
        |FROM g JOIN nation ON n_nationkey = s_nationkey
        |ORDER BY nation""".stripMargin) { (s, d) =>
      val D = org.apache.spark.sql.types.DecimalType
      val rev = Tables.lineitem(s, d)
        .groupBy("l_suppkey")
        .agg(sum((col("l_extendedprice").cast(D(12, 4)) * 100)
          .cast(D(38, 0))).cast("long").as("cents"))
        .select(col("l_suppkey"), expr("cents div 100").as("d"))
      val g = rev
        .join(broadcast(Tables.supplier(s, d)
          .select(col("s_suppkey"), col("s_nationkey"))),
          col("s_suppkey") === col("l_suppkey"))
        .groupBy("s_nationkey")
        .agg(count(lit(1)).as("n_suppliers"),
          sum("d").as("total_dollars"),
          sum(col("d") * col("d")).as("s2"))
      g.join(broadcast(Tables.nation(s, d)
          .select(col("n_nationkey"), col("n_name"))),
          col("n_nationkey") === col("s_nationkey"))
        .select(col("n_name").as("nation"), col("n_suppliers"),
          col("total_dollars"),
          floor(col("s2").cast("double") * lit(1000000.0)
            / (col("total_dollars").cast("double")
              * col("total_dollars").cast("double")))
            .cast("long").as("hhi_ppm"))
        .orderBy("nation")
    },

    // ── calibration curve (reliability diagram) of the spend score ─────

    // evt_score_auc asks "does pre-period spend RANK converters
    // correctly"; the calibration curve asks the complementary
    // question every score consumer needs answered before thresholding:
    // per score decile, how often does the outcome actually happen.
    // Deciles by exact integer cross-multiplication over the global
    // rank (((rk−1)·10) div n + 1 — identical arithmetic both engines,
    // no ntile edge semantics to reconcile); rank via the
    // range-partitioned global ranker, never a partition-less window.
    // Counts exact; rate and mean are single pinned divisions.
    Q("evt_calibration_curve",
      s"""WITH $causalUsersSql,
         |r AS (
         |  SELECT user_id, x,
         |         (CASE WHEN y > 2000000 THEN 1 ELSE 0 END) AS pos,
         |         row_number() OVER (ORDER BY x, user_id) AS rk,
         |         COUNT(*) OVER () AS n
         |  FROM u
         |), dk AS (
         |  SELECT CAST(((rk - 1) * 10) // n + 1 AS INTEGER) AS decile,
         |         x, pos
         |  FROM r
         |)
         |SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_users,
         |       CAST(SUM(pos) AS BIGINT) AS n_pos,
         |       CAST(CAST(SUM(pos) AS DOUBLE) / COUNT(*) AS DOUBLE)
         |         AS pos_rate,
         |       CAST(CAST(SUM(x) AS DOUBLE) / COUNT(*) / 10000 AS DOUBLE)
         |         AS mean_x
         |FROM dk GROUP BY decile ORDER BY decile""".stripMargin) { (s, d) =>
      val u = causalUsersShared(s, d)
        .select(col("user_id"), col("x"),
          when(col("y") > 2000000L, 1L).otherwise(0L).as("pos"))
      val ranked = Ranking.globalRowNumber(u, Seq("x", "user_id"))
      val tot = ranked.agg(count(lit(1)).as("n"))
      ranked.crossJoin(broadcast(tot))
        .select(expr("CAST(((row_num - 1) * 10) div n + 1 AS INT)")
          .as("decile"), col("x"), col("pos"))
        .groupBy("decile")
        .agg(count(lit(1)).as("n_users"), sum("pos").as("n_pos"),
          (sum("pos").cast("double") / count(lit(1))).as("pos_rate"),
          (sum("x").cast("double") / count(lit(1)) / 10000).as("mean_x"))
        .orderBy("decile")
    },

    // ── Qini curve: uplift captured by targeting depth ─────────────────

    // The question every targeting model answers (Radcliffe 2007):
    // ranking users by the pre-period covariate (a real uplift score
    // plugs into the same rank), how much INCREMENTAL post-period
    // revenue does targeting the top k/10 capture? Qini(k) = Yt(k) −
    // Yc(k)·Nt(k)/Nc(k), the treated outcome minus the control outcome
    // scaled to the treated count — the causal family's cousin of
    // evt_score_auc's ranking ledger, on the same exact-integer spine
    // (x, y are BIGINT ten-thousandths; qini is ONE pinned double
    // chain). Deciles by integer cross-multiplication over the
    // range-partitioned global rank (the evt_calibration_curve
    // discipline); cumulation rides the 10-row decile dimension — the
    // documented bounded-window exception. Qini(10) ≡ the overall lift
    // by construction, spec-pinned.
    Q("evt_uplift_qini",
      s"""WITH $causalUsersSql,
         |r AS (
         |  SELECT user_id, grp, y,
         |         row_number() OVER (ORDER BY x DESC, user_id) AS rk,
         |         COUNT(*) OVER () AS n
         |  FROM u
         |), dk AS (
         |  SELECT CAST(((rk - 1) * 10) // n + 1 AS INTEGER) AS decile,
         |         grp, y
         |  FROM r
         |), g AS (
         |  SELECT decile,
         |         CAST(SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |           AS nt,
         |         CAST(SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |           AS nc,
         |         CAST(SUM(CASE WHEN grp = 1 THEN y ELSE 0 END) AS BIGINT)
         |           AS yt,
         |         CAST(SUM(CASE WHEN grp = 0 THEN y ELSE 0 END) AS BIGINT)
         |           AS yc
         |  FROM dk GROUP BY decile
         |), c AS (
         |  SELECT decile,
         |         CAST(SUM(nt) OVER w AS BIGINT) AS cum_nt,
         |         CAST(SUM(nc) OVER w AS BIGINT) AS cum_nc,
         |         CAST(SUM(yt) OVER w AS BIGINT) AS cum_yt,
         |         CAST(SUM(yc) OVER w AS BIGINT) AS cum_yc
         |  FROM g
         |  WINDOW w AS (ORDER BY decile
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |)
         |SELECT decile, cum_nt, cum_nc, cum_yt, cum_yc,
         |       CAST(CASE WHEN cum_nc = 0 THEN NULL ELSE
         |         (CAST(cum_yt AS DOUBLE)
         |          - CAST(cum_yc AS DOUBLE) * cum_nt / cum_nc) / 10000
         |         END AS DOUBLE) AS qini
         |FROM c ORDER BY decile""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val u = causalUsersShared(s, d).select(col("user_id"), col("grp"),
        col("y"), (-col("x")).as("xneg")) // xneg asc ≡ x desc
      val ranked = Ranking.globalRowNumber(u, Seq("xneg", "user_id"))
      val tot = ranked.agg(count(lit(1)).as("n"))
      val g = ranked.crossJoin(broadcast(tot))
        .select(expr("CAST(((row_num - 1) * 10) div n + 1 AS INT)")
          .as("decile"), col("grp"), col("y"))
        .groupBy("decile")
        .agg(sum(when(col("grp") === 1, 1L).otherwise(0L)).as("nt"),
          sum(when(col("grp") === 0, 1L).otherwise(0L)).as("nc"),
          sum(when(col("grp") === 1, col("y")).otherwise(0L)).as("yt"),
          sum(when(col("grp") === 0, col("y")).otherwise(0L)).as("yc"))
      // 10-row decile dimension — the documented bounded partition-less
      // window exception
      val w = Window.orderBy("decile")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      g.select(col("decile"),
          sum("nt").over(w).cast("long").as("cum_nt"),
          sum("nc").over(w).cast("long").as("cum_nc"),
          sum("yt").over(w).cast("long").as("cum_yt"),
          sum("yc").over(w).cast("long").as("cum_yc"))
        .select(col("decile"), col("cum_nt"), col("cum_nc"),
          col("cum_yt"), col("cum_yc"),
          when(col("cum_nc") === 0L, lit(null).cast("double"))
            .otherwise((col("cum_yt").cast("double")
              - col("cum_yc").cast("double") * col("cum_nt")
                / col("cum_nc")) / 10000)
            .as("qini"))
        .orderBy("decile")
    },

    // ── AR(1) fit of the daily order-count series ──────────────────────

    // How sticky is yesterday? The lag-1 autoregression y_t = α + φ·y_{t−1}
    // fitted by OLS on CONSECUTIVE-day pairs — pairs come from an
    // equi-join on day = day+1 (a ROWS lag would silently pair across
    // gaps; the ts_forecast_snaive lesson). All sufficient statistics
    // are exact BIGINTs over daily counts (Σxy ≲ 10¹² at sf0.1, far
    // inside 2⁶³); φ = num/den and α = (Σy − φ·Σx)/n are pinned double
    // chains over those exact ints in the identical order on both
    // engines. Scale shape: the series is calendar-bounded — the
    // expensive part is the one map-side-combined daily rollup.
    Q("ts_ar1",
      """WITH s AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day,
        |         CAST(COUNT(*) AS BIGINT) AS c
        |  FROM orders GROUP BY 1
        |), p AS (
        |  SELECT a.c AS x, b.c AS y
        |  FROM s a JOIN s b ON b.day = a.day + 1
        |), m AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |         CAST(SUM(x) AS BIGINT) AS sx,
        |         CAST(SUM(y) AS BIGINT) AS sy,
        |         CAST(SUM(x*y) AS BIGINT) AS sxy,
        |         CAST(SUM(x*x) AS BIGINT) AS sxx
        |  FROM p
        |)
        |SELECT n AS n_pairs,
        |       CAST(n*sxy - sx*sy AS BIGINT) AS num,
        |       CAST(n*sxx - sx*sx AS BIGINT) AS den,
        |       CAST(CAST(n*sxy - sx*sy AS DOUBLE)
        |            / (n*sxx - sx*sx) AS DOUBLE) AS phi,
        |       CAST((CAST(sy AS DOUBLE)
        |             - CAST(CAST(n*sxy - sx*sy AS DOUBLE)
        |                    / (n*sxx - sx*sx) AS DOUBLE)
        |               * sx) / n AS DOUBLE) AS alpha
        |FROM m""".stripMargin) { (s, d) =>
      val daily = Tables.orders(s, d)
        .groupBy(col("o_orderdate").cast("date").as("day"))
        .agg(count(lit(1)).as("c"))
      val p = daily.as("a").join(daily.as("b"),
          col("b.day") === date_add(col("a.day"), 1))
        .select(col("a.c").as("x"), col("b.c").as("y"))
      val m = p.agg(count(lit(1)).as("n"),
        sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("y")).cast("long").as("sxy"),
        sum(col("x") * col("x")).cast("long").as("sxx"))
      val num = col("n") * col("sxy") - col("sx") * col("sy")
      val den = col("n") * col("sxx") - col("sx") * col("sx")
      m.select(col("n").as("n_pairs"),
        num.cast("long").as("num"), den.cast("long").as("den"),
        (num.cast("double") / den).as("phi"),
        ((col("sy").cast("double") - (num.cast("double") / den) * col("sx"))
          / col("n")).as("alpha"))
    }
  )
}
