package graft.operators

import graft.{Oracle, Q, Tables}
import graft.Tables.{M, StoreId}
import graft.functions.Fns
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** SURVEY.md §2.5 pivot/reshape, §2.6 sort/limit/window, §2.9 validation
  * checks, and the batch twin of the §2.10 streaming window aggregation.
  */
object Shapes {

  private val o = Oracle

  val queries: Seq[Q] = Seq(

    // ── §2.5 pivot / reshaping ──────────────────────────────────────────

    // Pivot-by-name (9 dept probes, /root/reference/src/DataObject.ts:114-124):
    // explicit value list ⇒ single-pass pivot, no extra distinct job.
    Q("pvt_dept", o.withCtes(
      "SELECT date,\n" + Tables.PivotDepts.map(b =>
        s"""       CAST(SUM(CASE WHEN deptCode = '$b' THEN sellEx END) AS DOUBLE) AS "$b"""")
        .mkString(",\n") +
        "\nFROM dept GROUP BY date ORDER BY date", o.deptSales)) { (s, d) =>
      val wide = Tables.deptSales(s, d)
        .groupBy("date").pivot("deptCode", Tables.PivotDepts)
        .agg(sum(col("sellEx")))
      wide.select(col("date") +:
        Tables.PivotDepts.map(b => col(s"`$b`").cast("double").as(b)): _*)
        .orderBy("date")
    },

    // Flatten day-batches back to rows (`days.map(d => d.rows).flat()`,
    // /root/reference/src/helpers.ts:181-182): nest per-day arrays, then
    // explode — round-trips to the plain row set.
    Q("reshape_flatten", o.withCtes(
      s"""SELECT date, id, CAST(amount AS DOUBLE) AS amount
         |FROM charge WHERE customerId = '$StoreId' ORDER BY id""".stripMargin,
      o.charge)) { (s, d) =>
      Tables.charge(s, d).filter(col("customerId") === StoreId)
        .groupBy("date")
        .agg(sort_array(collect_list(struct(col("id"),
          col("amount").cast("double").as("amount")))).as("rows"))
        .select(col("date"), explode(col("rows")).as("r"))
        .select(col("date"), col("r.id").as("id"), col("r.amount").as("amount"))
        .orderBy("id")
    },

    // Sign partition (sales vs credit notes,
    // /root/reference/src/parse.ts:106-112): one tag column, no data copy.
    Q("reshape_split_sign", o.withCtes(
      """SELECT CASE WHEN amount < 0 THEN 'CR' ELSE 'INV' END AS docType,
        |       COUNT(*) AS n, CAST(SUM(amount) AS DOUBLE) AS total
        |FROM charge GROUP BY 1 ORDER BY 1""".stripMargin, o.charge)) { (s, d) =>
      Tables.charge(s, d)
        .withColumn("docType", when(col("amount") < 0, "CR").otherwise("INV"))
        .groupBy("docType")
        .agg(count(lit(1)).as("n"), sum(col("amount")).cast("double").as("total"))
        .orderBy("docType")
    },

    // Rows → invoice line items, flat form
    // (/root/reference/src/DataObject.ts:50-71): description template,
    // GL-code switch, abs amount, 10% tax — the exploded twin of the
    // nested document assembly (SURVEY §7.4 nested-doc oracle note).
    Q("reshape_lineitems", o.withCtes(
      s"""SELECT id,
         |       concat(COALESCE(CASE WHEN id % 2 = 0 THEN concat('note-', CAST(id AS VARCHAR)) END,
         |                       'Customer POS Account Sale'),
         |              ': ', chr(10), '* POS ID: ', terminalId, '/', seqNo,
         |              chr(10), '* Timestamp: ', strftime(tranTimeStamp, '%d/%m/%Y, %H:%M:%S'),
         |              chr(10), '* TransactionID: ', CAST(id AS VARCHAR)) AS description,
         |       1 AS quantity,
         |       CAST(abs(amount) AS DOUBLE) AS unitAmount,
         |       CAST(round(abs(amount) * CAST(0.1 AS DECIMAL(2,1)), 2) AS DOUBLE) AS taxAmount,
         |       CASE WHEN customerId = '$StoreId' THEN '42010' ELSE '41010' END AS accountCode,
         |       'OUTPUT' AS taxType
         |FROM charge WHERE customerId = '$StoreId' ORDER BY id""".stripMargin,
      o.charge)) { (s, d) =>
      val notes = when(col("id") % 2 === 0, concat(lit("note-"), col("id")))
        .otherwise(lit(null).cast("string"))
      Tables.charge(s, d).filter(col("customerId") === StoreId)
        .select(
          col("id"),
          Fns.descTemplate(notes,
            Fns.refConcat(col("terminalId"), col("seqNo")),
            col("tranTimeStamp"), col("id")).as("description"),
          lit(1).as("quantity"),
          abs(col("amount")).cast("double").as("unitAmount"),
          round(abs(col("amount")) * lit(0.1).cast(DecimalType(2, 1)), 2)
            .cast("double").as("taxAmount"),
          Fns.glCode(col("customerId"), StoreId).as("accountCode"),
          lit("OUTPUT").as("taxType"))
        .orderBy("id")
    },

    // ── §2.6 sort / limit / window ──────────────────────────────────────

    // LIMIT 1 on a total order (findFirst,
    // /root/reference/src/queries.ts:12).
    Q("lim_first", o.withCtes(
      """SELECT id, date, CAST(amount AS DOUBLE) AS amount, customerId
        |FROM charge ORDER BY date, id LIMIT 1""".stripMargin, o.charge)) {
      (s, d) =>
        Tables.charge(s, d).orderBy("date", "id").limit(1)
          .select(col("id"), col("date"),
            col("amount").cast("double").as("amount"), col("customerId"))
    },

    // Sentinel-band extraction (/root/reference/src/parse.ts:81-136): the
    // stateful row-scan becomes a running trigger-count window — band id =
    // # of sentinel rows seen so far within the partition.
    Q("win_sentinel_band",
      """SELECT user_id,
        |       CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
        |            OVER (PARTITION BY user_id ORDER BY event_id
        |                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INTEGER) AS band,
        |       event_id, value
        |FROM events ORDER BY user_id, event_id""".stripMargin) { (s, d) =>
      val w = Window.partitionBy("user_id").orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, d)
        .withColumn("band",
          sum(when(col("event_type") === "signup", 1).otherwise(0)).over(w)
            .cast("int"))
        .select(col("user_id"), col("band"), col("event_id"), col("value"))
        .orderBy("user_id", "event_id")
    },

    // Per-group top-k (engine generalization — the reference has no
    // ORDER BY/top-k at all, SURVEY §2.6 note).
    Q("win_topk",
      """SELECT o_custkey, CAST(rn AS INTEGER) AS rn, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |         row_number() OVER (PARTITION BY o_custkey
        |                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) t
        |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin) { (s, d) =>
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables.orders(s, d)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select("o_custkey", "rn", "o_orderkey", "o_totalprice")
        .orderBy("o_custkey", "rn")
    },

    // Same top-3-per-customer through the CUSTOM physical operator
    // (plans/TopKPerKey: LogicalPlan + SparkStrategy + SparkPlan with
    // bounded per-key heaps — no sort, partial stage before the shuffle).
    // Same oracle as win_topk: the two forms must be row-identical.
    Q("win_topk_phys",
      """SELECT o_custkey, CAST(rn AS INTEGER) AS rn, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |         row_number() OVER (PARTITION BY o_custkey
        |                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) t
        |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin) { (s, d) =>
      // project BEFORE the custom node: TopKPerKeyPlan declares
      // references = all child columns (the ColumnPruning survival
      // contract), so pruning must happen upstream of it or the scan
      // reads and shuffles the three unused orders columns
      graft.plans.TopKPerKey.topK(
          Tables.orders(s, d).select("o_custkey", "o_orderkey", "o_totalprice"),
          Seq("o_custkey"),
          Seq("o_totalprice" -> true, "o_orderkey" -> false), 3)
        .select("o_custkey", "rn", "o_orderkey", "o_totalprice")
        .orderBy("o_custkey", "rn")
    },

    // ── §2.9 validation / cardinality checks ────────────────────────────

    // Soft balance audit: report the unbalanced days
    // (/root/reference/src/helpers.ts:188-198).
    Q("chk_balance_warn", o.withCtes(
      """SELECT xs.date FROM
        |  (SELECT date, SUM(amount) AS sx FROM xlsx GROUP BY date) xs
        |JOIN (SELECT date, SUM(amount) AS sdb FROM charge WHERE id % 7 = 0 GROUP BY date) db
        |  ON xs.date = db.date
        |WHERE xs.sx <> db.sdb ORDER BY xs.date""".stripMargin,
      o.charge, o.xlsxCharges)) { (s, d) =>
      val xs = Tables.xlsxCharges(s, d).groupBy("date")
        .agg(sum(col("amount")).as("sx"))
      val db = Tables.charge(s, d).filter(col("id") % 7 === 0)
        .groupBy("date").agg(sum(col("amount")).as("sdb"))
      xs.join(db, Seq("date")).filter(col("sx") =!= col("sdb"))
        .select("date").orderBy("date")
    },

    // Hard-abort guard quantity: how many parsed rows have no DB match
    // (/root/reference/src/helpers.ts:200-214). The throwing wrapper is
    // Guards.abortIfUnverified (ScalaTest-covered).
    Q("chk_unverified_abort", o.withCtes(
      """SELECT COUNT(*) AS unverified FROM xlsx x
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM charge c
        |  WHERE x.date = c.date AND x.customerId = c.customerId
        |    AND x.seqNo = c.seqNo AND x.amount = c.amount)""".stripMargin,
      o.charge, o.xlsxCharges)) { (s, d) =>
      Tables.xlsxCharges(s, d)
        .join(Tables.charge(s, d),
          Seq("date", "customerId", "seqNo", "amount"), "left_anti")
        .agg(count(lit(1)).as("unverified"))
    },

    // Exactly-one cardinality assertion
    // (/root/reference/src/apiFunctions.ts:148-170): per-key match counts
    // bucketed into 1 / many / none.
    Q("chk_exactly_one", o.withCtes(
      """SELECT CAST(SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_exactly_one,
        |       CAST(SUM(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_multi,
        |       CAST(SUM(CASE WHEN cnt = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero
        |FROM (SELECT x.notes, COUNT(c.id) AS cnt
        |      FROM xlsx x LEFT JOIN charge c
        |        ON x.date = c.date AND x.customerId = c.customerId
        |       AND x.seqNo = c.seqNo AND x.amount = c.amount
        |      GROUP BY x.notes) m""".stripMargin, o.charge, o.xlsxCharges)) {
      (s, d) =>
        val c = Tables.charge(s, d)
        Tables.xlsxCharges(s, d)
          .join(c, Seq("date", "customerId", "seqNo", "amount"), "left")
          .groupBy("notes").agg(count(col("id")).as("cnt"))
          .agg(
            sum(when(col("cnt") === 1, 1).otherwise(0)).as("n_exactly_one"),
            sum(when(col("cnt") > 1, 1).otherwise(0)).as("n_multi"),
            sum(when(col("cnt") === 0, 1).otherwise(0)).as("n_zero"))
    },

    // Unique-key invariant (findUniqueOrThrow on till date,
    // /root/reference/src/queries.ts:57-59).
    Q("chk_unique_day", o.withCtes(
      """SELECT COUNT(*) AS n_days, COUNT(DISTINCT date) AS n_distinct,
        |       COUNT(*) = COUNT(DISTINCT date) AS is_unique
        |FROM till""".stripMargin, o.tillTotals)) { (s, d) =>
      Tables.tillTotals(s, d)
        .agg(count(lit(1)).as("n_days"),
          countDistinct(col("date")).as("n_distinct"))
        .select(col("n_days"), col("n_distinct"),
          (col("n_days") === col("n_distinct")).as("is_unique"))
    },

    // Entity → runtime-config dispatch as a data-plane query (SURVEY
    // §2.9 chk_config; /root/reference/src/helpers.ts:20-46 getLogPath /
    // getTenantIndex). The config table is a 2-row broadcast dimension
    // (graft.Config.dim); requests derive entities from c_mktsegment
    // (BUILDING→pw, AUTOMOBILE→wb, others → lowercase 2-char prefix, so
    // fu/ho/ma are genuinely-invalid entities exercising the reference's
    // throw branch — surfaced here as `dispatch_error`, with the strict
    // abort form available as Config.requireAllKnown).
    Q("chk_config",
      s"""WITH cfg AS (
        |  SELECT * FROM (VALUES
        |    ('pw', 'logs/pw', 1, 'dd-contact-pw', '51130'),
        |    ('wb', 'logs/wb', 0, 'dd-contact-wb', '51310'))
        |    AS t(entity, logPath, tenantIndex, ddContactId, storeExpenseGl)
        |), req AS (
        |  SELECT CASE c_mktsegment WHEN 'BUILDING' THEN 'pw'
        |                           WHEN 'AUTOMOBILE' THEN 'wb'
        |                           ELSE lower(substr(c_mktsegment, 1, 2)) END AS entity,
        |         COUNT(*) AS n_requests
        |  FROM customer GROUP BY 1
        |)
        |SELECT r.entity, r.n_requests, c.logPath, c.tenantIndex,
        |       c.ddContactId, c.storeExpenseGl,
        |       CASE WHEN c.entity IS NULL
        |            THEN '${graft.Config.InvalidEntityMsg}'
        |            END AS dispatch_error
        |FROM req r LEFT JOIN cfg c ON r.entity = c.entity""".stripMargin) {
      (s, d) =>
        val req = Tables.customer(s, d)
          .select(when(col("c_mktsegment") === "BUILDING", "pw")
            .when(col("c_mktsegment") === "AUTOMOBILE", "wb")
            .otherwise(lower(substring(col("c_mktsegment"), 1, 2))).as("entity"))
          .groupBy("entity").agg(count(lit(1)).as("n_requests"))
        req.join(broadcast(graft.Config.dim(s)), Seq("entity"), "left")
          .select(col("entity"), col("n_requests"), col("logPath"),
            col("tenantIndex"), col("ddContactId"), col("storeExpenseGl"),
            when(col("logPath").isNull, lit(graft.Config.InvalidEntityMsg))
              .as("dispatch_error"))
    },

    // ── §2.10 streaming (batch twin) ────────────────────────────────────

    // Tumbling event-time window aggregation — identical logic runs as a
    // Structured Streaming query (graft.streaming.DropDir, ScalaTest);
    // this batch twin is the oracle-checked form.
    Q("str_window_agg",
      """SELECT strftime(CAST(time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS TIMESTAMP),
        |                '%Y-%m-%d %H:%M') AS window_start,
        |       event_type, COUNT(*) AS n,
        |       CAST(SUM(CAST(value AS DECIMAL(10,4))) AS DOUBLE) AS total
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(10, 4))).cast("double").as("total"))
        .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm").as("window_start"),
          col("event_type"), col("n"), col("total"))
        .orderBy("window_start", "event_type")
    }
  )
}
