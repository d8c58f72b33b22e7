package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Streaming twin of the batch `chk_expectations` gate for its ROW-LOCAL
  * rules: the data-quality matrix maintained LIVE as rows arrive, so a
  * contract break surfaces at ingest time, not at the next scheduled
  * audit — the StreamContamination posture (gate the door, don't scan
  * after the leak) applied to declarative expectations.
  *
  * Scope honesty (the StreamGrowth documentation contract): only the
  * row-local order rules stream — status domain, non-positive totals,
  * date range, and the row floor. The PK/FK/cross-table rules are
  * deliberately batch-side: streaming PK uniqueness is O(keys) state
  * per key forever and FK containment against a moving parent set is
  * retraction-prone ("orphan" may only mean "parent not arrived yet"),
  * so the batch gate owns them and this gate owns what a single row can
  * prove about itself. That split is exactly how production ingest
  * gates are layered.
  *
  * Mechanics: each arriving order row explodes into one (rule, bad)
  * increment per rule — the batch query's unpivot, moved BEFORE the
  * aggregate — and a watermark-free streaming aggregation keeps the
  * running (violations, rows_seen) per rule. State is |rules| rows,
  * bounded forever, so Complete output mode is free; emission arithmetic
  * is the batch query's exact integer counters, which is what makes the
  * final matrix bit-comparable to `chk_expectations` (spec-pinned,
  * including multi-batch accumulation and checkpoint restart).
  */
object StreamExpectations {

  /** The streamed subset of chk_expectations rules (row-local only). */
  val StreamedRules: Seq[String] = Seq(
    "orders.row_count_min", "orders.status_domain",
    "orders.totalprice_positive", "orders.orderdate_range")

  /** Live expectation matrix over a (streaming) orders frame with
    * columns (o_orderstatus, o_totalprice, o_orderdate). Returns
    * (rule, measured, pass) — `measured` is the running violation count
    * (running row count for the floor rule), exactly the batch gate's
    * semantics on the rows seen so far. */
  def gate(orders: DataFrame): DataFrame = {
    val inc = orders.select(explode(array(
      struct(lit("orders.row_count_min").as("rule"), lit(0L).as("bad")),
      struct(lit("orders.status_domain").as("rule"),
        when(!col("o_orderstatus").isin("F", "O", "P"), 1L).otherwise(0L)
          .as("bad")),
      struct(lit("orders.totalprice_positive").as("rule"),
        when(col("o_totalprice") <= 0, 1L).otherwise(0L).as("bad")),
      struct(lit("orders.orderdate_range").as("rule"),
        when(col("o_orderdate") < to_timestamp(lit("1995-01-01")) ||
          col("o_orderdate") >= to_timestamp(lit("2002-01-01")), 1L)
          .otherwise(0L).as("bad"))
    )).as("r")).select(col("r.rule").as("rule"), col("r.bad").as("bad"))
    inc.groupBy("rule")
      .agg(sum("bad").as("viol"), count(lit(1)).as("rows_seen"))
      .select(col("rule"),
        when(col("rule") === "orders.row_count_min", col("rows_seen"))
          .otherwise(col("viol")).as("measured"),
        when(col("rule") === "orders.row_count_min", col("rows_seen") >= 100L)
          .otherwise(col("viol") === 0L).as("pass"))
  }

  /** Drive the gate over the orders parquet in `srcDir`, AvailableNow
    * into a Complete-mode memory sink (state is |rules| rows, so the
    * full matrix per trigger is free); returns the final matrix. */
  def runAvailableNow(spark: SparkSession, srcDir: String,
      queryName: String = "streamexpect_out"): DataFrame = {
    val raw = Feeds.source(spark, srcDir, "orders")
    Feeds.drain(spark, gate(raw)
      .writeStream.format("memory").outputMode("complete"), queryName,
      Feeds.sourceBytes(srcDir, "orders.parquet"))
    spark.table(queryName)
  }
}
