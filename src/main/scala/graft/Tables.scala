package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Reference-shaped logical views over the driver's TPC-H-ish parquet
  * (`/root/testdata/sf*`). The reference's data model (FIXTURES.md §A) is
  * role-cast onto the synthetic tables (FIXTURES.md §B) so every operator
  * keeps its original semantics while running on the shared testdata.
  *
  * Determinism contract with the DuckDB oracle (`Oracle.scala`): money
  * math is exact decimal (inputs are 2-decimal doubles, cast to
  * DECIMAL(12,4) is unambiguous); any final numeric output is cast to
  * DOUBLE/BIGINT so both engines emit bit-identical values independent of
  * aggregation order.
  *
  * Scale notes (100 TB design): `charge` is a fact⋈fact join on the fact
  * key (`l_orderkey = o_orderkey`) — at cluster scale both sides are
  * bucketed/partitioned by orderkey so it shuffles once at write time,
  * never per query. `terms`/`department` are dimensions — always
  * broadcast. Per-day views aggregate before joining (partial map-side
  * aggregation), never join-then-aggregate.
  */
object Tables {

  /** Exact money type: all doubles in testdata carry exactly 2 decimals,
    * so scale 4 loses nothing and products of two values stay scale-8
    * exact. See /root/reference/src/queries.ts:15 (decimal-as-string) —
    * the reference's float/`toFixed` mix is the hazard this avoids. */
  val M: DecimalType = DecimalType(12, 4)

  /** The reference's "store account" customer id analog
    * (`"10528"` in /root/reference/src/queries.ts:95,107). */
  val StoreId = "42"

  /** The schema of table `name` in `dir`, inferred from its parquet
    * footer once per session and read under [[ensureNanosAsLong]], so
    * it is the type the file actually has (an ns-vintage `events.ts`
    * is BIGINT). `Contract.preflight` fills it for every contracted
    * table; a dir preflight never saw infers on its first read. */
  def schema(s: SparkSession, dir: String, name: String): StructType = {
    ensureNanosAsLong(s)
    Caches.memo(s, ("schema", dir, name))(
      s.read.parquet(s"$dir/$name.parquet").schema)
  }

  def read(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.schema(schema(spark, dir, name)).parquet(s"$dir/$name.parquet")

  def lineitem(s: SparkSession, d: String): DataFrame = read(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame   = read(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame = read(s, d, "customer")
  def part(s: SparkSession, d: String): DataFrame     = read(s, d, "part")
  def supplier(s: SparkSession, d: String): DataFrame = read(s, d, "supplier")
  def nation(s: SparkSession, d: String): DataFrame   = read(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame   = read(s, d, "region")
  /** THE one place the `spark.sql.legacy.parquet.nanosAsLong` flag is
    * set (every events.parquet reader — batch or streaming — calls
    * this). The flag ONLY changes how ns-precision parquet timestamps
    * (which Spark otherwise rejects outright) are surfaced — as raw long
    * nanos; files with µs/ms timestamps are untouched, so keeping it set
    * process-wide is harmless and lets the same reader accept either
    * vintage of testdata. Scoping set/restore around each read would
    * race under concurrent query construction on the shared session. */
  def ensureNanosAsLong(s: SparkSession): Unit =
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

  /** Normalize an events frame's `ts` to session TimestampType whatever
    * the parquet stored: BIGINT (ns-precision file surfaced as raw nanos
    * under [[ensureNanosAsLong]]) → floor-div to µs — exactly DuckDB's
    * ns→µs truncation; TIMESTAMP_NTZ (µs file, Spark ≥3.4 NTZ inference)
    * → direct cast, value-preserving because every session in this engine
    * pins `spark.sql.session.timeZone=UTC`, matching DuckDB's naive read
    * of the same file. Dispatching on the READ schema (not a config
    * assumption) is the schema-drift tripwire the r6 outage demanded. */
  def normalizeTs(df: DataFrame): DataFrame = df.schema("ts").dataType match {
    case LongType      => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    case TimestampType => df
    case TimestampNTZType =>
      // the NTZ→session-type cast re-interprets the naive value in the
      // session zone; only UTC preserves the stored instant (and DuckDB
      // parity). Every graft main pins UTC — fail loudly if a foreign
      // session doesn't, rather than silently shifting every timestamp.
      require(
        df.sparkSession.conf.get("spark.sql.session.timeZone") == "UTC",
        "events.ts is TIMESTAMP_NTZ: the cast to TimestampType is only " +
          "value-preserving under spark.sql.session.timeZone=UTC")
      df.withColumn("ts", col("ts").cast(TimestampType))
    case other => throw new IllegalStateException(
      s"events.ts has unsupported parquet type $other — expected BIGINT " +
        "nanos, TIMESTAMP, or TIMESTAMP_NTZ; testdata contract drifted")
  }

  /** events table with `ts` normalized to µs TimestampType regardless of
    * the parquet's physical timestamp encoding (see [[normalizeTs]]). */
  def events(s: SparkSession, d: String): DataFrame =
    normalizeTs(read(s, d, "events"))
  def documents(s: SparkSession, d: String): DataFrame  = read(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = read(s, d, "embeddings")

  /** Signed exact amount: extendedprice*(1-discount), negative for
    * returns ('R' plays the credit-note role,
    * /root/reference/src/parse.ts:106-112). */
  def signedAmount: org.apache.spark.sql.Column =
    (col("l_extendedprice").cast(M) * (lit(1) - col("l_discount").cast(M)))
      .cast(DecimalType(18, 4)) *
      when(col("l_returnflag") === "R", -1).otherwise(1)

  /** `charge` table analog (FIXTURES.md §A1; schema source:
    * /root/reference/src/queries.ts:12-35,93-121). One row per lineitem,
    * enriched with its order's customer. */
  def charge(s: SparkSession, d: String): DataFrame =
    chargeFrom(lineitem(s, d), orders(s, d))

  /** `charge` restricted to `l_orderkey < maxOrder` — exactly
    * `charge.filter(id < maxOrder*100)` (linenumber < 100), but the
    * bound is a plain column predicate on BOTH scan sides, so it reaches
    * the parquet reader (`PushedFilters`) instead of filtering after the
    * join. Capability queries with id-bounded subsets use this. */
  def chargeSub(s: SparkSession, d: String, maxOrder: Long): DataFrame =
    chargeFrom(
      lineitem(s, d).filter(col("l_orderkey") < maxOrder),
      orders(s, d).filter(col("o_orderkey") < maxOrder))

  private def chargeFrom(l: DataFrame, orders: DataFrame): DataFrame = {
    val o = orders.select("o_orderkey", "o_custkey")
    // fact⋈fact on the fact key: at 100 TB both sides are co-partitioned
    // by orderkey (bucketed write), so this is a local join; in local
    // mode AQE handles it. No broadcast: orders is same-scale as lineitem.
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .select(
        (col("l_orderkey") * 100 + col("l_linenumber")).as("id"),
        to_date(col("l_shipdate")).as("date"),
        signedAmount.as("amount"),
        col("o_custkey").cast("string").as("customerId"),
        lpad(col("l_linenumber").cast("string"), 4, "0").as("seqNo"),
        col("l_suppkey").cast("string").as("terminalId"),
        col("l_shipdate").as("tranTimeStamp"),
        when(col("l_linestatus") === "F", 13).otherwise(14).as("tranType")
      )
  }

  /** `customer` trading-terms dimension (FIXTURES.md §A2; reference
    * /root/reference/src/queries.ts:24-30, src/types.ts:25). termsType is
    * derived deterministically from c_mktsegment; null termsType plays
    * the "no terms ⇒ EOM after EOM" branch
    * (/root/reference/src/helpers.ts:247-256). */
  def terms(s: SparkSession, d: String): DataFrame =
    customer(s, d).select(
      col("c_custkey").cast("string").as("customerId"),
      concat(lit("xid-"), col("c_custkey")).as("xeroId"),
      when(col("c_mktsegment") === "BUILDING", "DAYSAFTERBILLDATE")
        .when(col("c_mktsegment") === "AUTOMOBILE", "OFFOLLOWINGMONTH")
        .otherwise(lit(null).cast("string")).as("termsType"),
      (col("c_nationkey") + 7).cast("int").as("termsDays")
    )

  /** `combinedImportedTillTotal` analog (FIXTURES.md §A3; reference
    * /root/reference/src/queries.ts:57-74): one row per order-date with
    * payment-method component sums (priority buckets play the payment
    * methods). Aggregate-before-join: partial aggregation is map-side. */
  def tillTotals(s: SparkSession, d: String): DataFrame = {
    val o = orders(s, d)
    def bucket(p: String) =
      sum(when(col("o_orderpriority") === p, col("o_totalprice").cast(M))
        .otherwise(lit(0).cast(M)))
    o.groupBy(to_date(col("o_orderdate")).as("date"))
      .agg(
        countDistinct(col("o_custkey")).as("customerCount"),
        sum(col("o_totalprice").cast(M)).as("totalSales"),
        bucket("1-URGENT").as("totalCash"),
        bucket("2-HIGH").as("totalCheques"),
        bucket("3-MEDIUM").as("totalEFTPOS"),
        bucket("4-NOT SPECIFIED").as("totalAccountSales"),
        bucket("5-LOW").as("totalPayoutInstants"),
        sum(when(col("o_orderstatus") === "F", col("o_totalprice").cast(M))
          .otherwise(lit(0).cast(M))).as("totalPayoutLotto"),
        // GST analog: sales * 0.0909 (sum cast to (18,4) first so the
        // decimal product stays inside 38 digits in BOTH engines)
        (sum(col("o_totalprice").cast(M)).cast(DecimalType(18, 4))
          * lit(0.0909).cast(DecimalType(6, 4))).as("totalGst"),
        count(lit(1)).as("orderCount"),
        // deterministic small rounding analog (reference totalRounding)
        ((countDistinct(col("o_custkey")) % 5) * lit(0.01).cast(DecimalType(3, 2))
          - lit(0.02).cast(DecimalType(3, 2))).as("totalRounding")
      )
  }

  /** `department` dimension analog (FIXTURES.md §A4; reference
    * /root/reference/src/queries.ts:82-89): p_brand plays deptCode and
    * display name; GL code derived from the brand's smallest size. */
  def department(s: SparkSession, d: String): DataFrame =
    part(s, d).groupBy(col("p_brand").as("deptCode"))
      .agg(min(col("p_size")).as("minSize"))
      .select(
        col("deptCode"),
        col("deptCode").as("deptDisplayName"),
        concat(lit("4"), lpad(col("minSize").cast("string"), 3, "0"))
          .as("glCodeSales"))

  /** `departmentSales` analog (FIXTURES.md §A4; reference
    * /root/reference/src/queries.ts:76-81): daily per-brand sales.
    * part is a genuine dimension ⇒ broadcast. */
  def deptSales(s: SparkSession, d: String): DataFrame = {
    val l = lineitem(s, d)
    val p = part(s, d).select(col("p_partkey"), col("p_brand").as("deptCode"))
    l.join(broadcast(p), l("l_partkey") === p("p_partkey"))
      .groupBy(to_date(col("l_shipdate")).as("date"), col("deptCode"))
      .agg(sum(
        (col("l_extendedprice").cast(M) * (lit(1) - col("l_discount").cast(M)))
          .cast(DecimalType(18, 4))).as("sellEx"))
  }

  /** The 9 pivot department names (/root/reference/src/DataObject.ts:114-122
    * probes 9 display names); Brand#1..Brand#9 play the roles. */
  val PivotDepts: Seq[String] = (1 to 9).map(i => s"Brand#$i")

  /** Parsed-XLSX-side rows (FIXTURES.md §A6): a deterministic sample of
    * `charge` carrying `notes`, with a deliberate perturbation
    * (id % 91 == 0 ⇒ amount + 0.01) so the verification anti-join
    * (/root/reference/src/helpers.ts:200-214) has real misses. */
  def xlsxCharges(s: SparkSession, d: String): DataFrame =
    charge(s, d)
      .filter(col("id") % 7 === 0)
      .select(
        col("date"), col("customerId"), col("seqNo"),
        (col("amount") + when(col("id") % 91 === 0, lit(0.01).cast(M))
          .otherwise(lit(0).cast(M))).as("amount"),
        concat(lit("note-"), col("id")).as("notes")
      )
}
