package graft.operators

import graft.{Caches, Oracle, Q, Tables}
import graft.Tables.StoreId
import graft.functions.Fns
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The flagship "DD daily rollup" query (SURVEY.md §3.3 / §7.2 M1): the
  * reference's `fetchDDInvoiceData` + `createInvoice` — 5 concurrent
  * Postgres queries, JS post-aggregation and a 9-way dept pivot — as ONE
  * declarative DataFrame DAG. Catalyst schedules the independent
  * aggregate branches concurrently (replacing the reference's
  * `Promise.all`, /root/reference/src/queries.ts:56-122), and each branch
  * aggregates BEFORE the per-date join, so at 100 TB the join inputs are
  * one-row-per-day, never raw facts.
  */
object Rollup {

  private val Z = lit(0).cast(DecimalType(18, 4))

  /** One row per date: till totals ⋈ dept pivot ⋈ store-expense agg ⋈
    * customer-charge agg ⋈ other-payment agg, plus all derived scalars.
    * Shared ([[Caches.shared]]): the doc/dd family reads it. Its pivot
    * reads [[Tables.pivotDeptSales]], so its build reads only the 9
    * pivot brands from the part scan (the pushdown PlanSpec pins).
    */
  def frame(s: SparkSession, d: String): DataFrame = {
    val c = Tables.charge(s, d)

    val pvt = Tables.pivotDeptSales(s, d)
      .groupBy("date").pivot("deptCode", Tables.PivotDepts)
      .agg(sum(col("sellEx")))

    val posEntry = struct(
      col("tranTimeStamp").as("ts"), col("id").as("id"),
      concat(Fns.refConcat(col("terminalId"), col("seqNo")), lit(" - "),
        Fns.dateLocale(col("tranTimeStamp")), lit("\n")).as("s"))
    val storeExp = c
      .filter(col("customerId") === StoreId && col("tranType") === 13)
      .groupBy("date")
      .agg(sum(col("amount")).as("totalExp"),
        array_join(
          transform(array_sort(collect_list(posEntry)), x => x.getField("s")),
          "").as("posId"))

    val custCharges = c
      .filter(col("customerId") =!= StoreId && col("amount") > 0)
      .groupBy("date").agg(sum(col("amount")).as("totalCustCharges"))

    val otherPay = c.filter(col("tranType") === 14)
      .groupBy("date").agg(sum(col("amount")).as("totalOtherPayments"))

    Caches.shared(Tables.tillTotals(s, d)
      .join(pvt, Seq("date"), "left")
      .join(storeExp, Seq("date"), "left")
      .join(custCharges, Seq("date"), "left")
      .join(otherPay, Seq("date"), "left")
      .withColumn("lineSum",
        Tables.PivotDepts.map(b => coalesce(col(s"`$b`"), Z)).reduce(_ + _))
      .withColumn("gstSales", Fns.gstGross(col("totalGst")))
      .withColumn("freSales",
        col("totalSales") - col("lineSum") - col("gstSales")
          - (col("totalAccountSales") - coalesce(col("totalExp"), Z))
          + coalesce(col("totalOtherPayments"), Z)))
  }

  /** SQL mirror of [[frame]] as a CTE chain ending in view `r`. */
  val rollupCtes: Seq[String] = {
    val pvtCols = Tables.PivotDepts.map(b =>
      s"""         SUM(CASE WHEN deptCode = '$b' THEN sellEx END) AS "$b"""")
      .mkString(",\n")
    val inList = Tables.PivotDepts.map(b => s"'$b'").mkString(", ")
    val lineSum = Tables.PivotDepts.map(b => s"""COALESCE("$b", Z)""")
      .mkString(" + ")
    Seq(
      Oracle.charge, Oracle.tillTotals, Oracle.deptSales,
      s"""pvt AS (
         |  SELECT date,
         |$pvtCols
         |  FROM dept WHERE deptCode IN ($inList) GROUP BY date
         |)""".stripMargin,
      s"""se AS (
         |  SELECT date, SUM(amount) AS totalExp,
         |         string_agg(concat(terminalId, '/', seqNo, ' - ',
         |                           strftime(tranTimeStamp, '%d/%m/%Y, %H:%M:%S'), chr(10)),
         |                    '' ORDER BY tranTimeStamp, id) AS posId
         |  FROM charge WHERE customerId = '$StoreId' AND tranType = 13 GROUP BY date
         |)""".stripMargin,
      s"""cc AS (
         |  SELECT date, SUM(amount) AS totalCustCharges FROM charge
         |  WHERE customerId <> '$StoreId' AND amount > 0 GROUP BY date
         |)""".stripMargin,
      """op AS (
        |  SELECT date, SUM(amount) AS totalOtherPayments FROM charge
        |  WHERE tranType = 14 GROUP BY date
        |)""".stripMargin,
      s"""r0 AS (
         |  SELECT date, t.customerCount, t.totalSales, t.totalAccountSales,
         |         t.totalGst, t.totalRounding,
         |${Tables.PivotDepts.map(b => s"""         pvt."$b",""").mkString("\n")}
         |         se.totalExp, se.posId, cc.totalCustCharges,
         |         op.totalOtherPayments, CAST(0 AS DECIMAL(18,4)) AS Z
         |  FROM till t
         |  LEFT JOIN pvt USING (date) LEFT JOIN se USING (date)
         |  LEFT JOIN cc USING (date) LEFT JOIN op USING (date)
         |)""".stripMargin,
      s"""r AS (
         |  SELECT *, $lineSum AS lineSum,
         |         COALESCE(totalGst, CAST(0 AS DECIMAL(12,4))) * 11 AS gstSales
         |  FROM r0
         |)""".stripMargin
    )
  }

  val queries: Seq[Q] = Seq(

    // The full daily DD-invoice rollup — SparkEntry.entry runs this.
    Q("dd_rollup", Oracle.withCtes(
      s"""SELECT date,
        |       concat('DD', '/', upper(strftime(date, '%a')), '/',
        |              CAST(customerCount AS VARCHAR), '/',
        |              ${Oracle.avgBasketSql("totalSales", "customerCount")}) AS ddTitle,
        |       customerCount,
        |       CAST(totalSales AS DOUBLE) AS totalSales,
        |       CAST(lineSum AS DOUBLE) AS lineSum,
        |       CAST(gstSales AS DOUBLE) AS gstSales,
        |       CAST(COALESCE(totalExp, Z) AS DOUBLE) AS totalExp,
        |       CAST(COALESCE(totalCustCharges, Z) AS DOUBLE) AS totalCustCharges,
        |       CAST(COALESCE(totalOtherPayments, Z) AS DOUBLE) AS totalOtherPayments,
        |       CAST(totalSales - lineSum - gstSales
        |            - (totalAccountSales - COALESCE(totalExp, Z))
        |            + COALESCE(totalOtherPayments, Z) AS DOUBLE) AS freSales,
        |       CAST(-COALESCE(totalRounding, Z) AS DOUBLE) AS rounding,
        |       CAST(date + 2 * INTERVAL '1 day' AS DATE) AS dueDate,
        |       concat('DD ', lpad(CAST(day(date) AS VARCHAR), 2, '0'), '.xls') AS fileName,
        |       posId
        |FROM r ORDER BY date""".stripMargin, rollupCtes: _*)) { (s, d) =>
      frame(s, d).select(
        col("date"),
        Fns.ddTitle(col("date"), col("customerCount"), col("totalSales"))
          .as("ddTitle"),
        col("customerCount"),
        col("totalSales").cast("double").as("totalSales"),
        col("lineSum").cast("double").as("lineSum"),
        col("gstSales").cast("double").as("gstSales"),
        coalesce(col("totalExp"), Z).cast("double").as("totalExp"),
        coalesce(col("totalCustCharges"), Z).cast("double")
          .as("totalCustCharges"),
        coalesce(col("totalOtherPayments"), Z).cast("double")
          .as("totalOtherPayments"),
        col("freSales").cast("double").as("freSales"),
        Fns.roundingNeg(col("totalRounding")).cast("double").as("rounding"),
        Fns.datePlus2(col("date")).as("dueDate"),
        Fns.fileName(col("date")).as("fileName"),
        col("posId"))
        .orderBy("date")
    },

    // FRE residual formula standalone (/root/reference/src/DataObject.ts:133-138).
    Q("fn_fre", Oracle.withCtes(
      """SELECT date,
        |       CAST(totalSales - lineSum - gstSales
        |            - (totalAccountSales - COALESCE(totalExp, Z))
        |            + COALESCE(totalOtherPayments, Z) AS DOUBLE) AS freSales
        |FROM r ORDER BY date""".stripMargin, rollupCtes: _*)) { (s, d) =>
      frame(s, d)
        .select(col("date"), col("freSales").cast("double").as("freSales"))
        .orderBy("date")
    }
  )
}
