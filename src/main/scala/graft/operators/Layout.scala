package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.{Q, Tables}

/** Data-layout keys for multi-dimensional scan pruning — the
  * write-time half of "push down and prune". A table clustered on ONE
  * column prunes min/max row-group stats on that column only; queries
  * filtering the OTHER dimension scan everything. Interleaving the bits
  * of two dimensions into one Z-ORDER key and sorting the write by it
  * bounds BOTH dimensions within every file/row-group (each chunk of
  * the z-curve is a small rectangle in (dim1, dim2) space), so min/max
  * pruning works for filters on either dimension — the technique behind
  * Delta/Iceberg `OPTIMIZE ZORDER BY`. The key itself is pure per-row
  * integer bit math (codegen'd, zero shuffle); the sort is the write's
  * `orderBy`, amortized once at ingest. LayoutSpec proves the locality
  * claim: z-sorted chunks bound both dimensions, single-column-sorted
  * chunks bound only their own.
  */
object Layout {

  private val Bits = 16

  /** Bit-interleave two (≤ 16-bit) non-negative ints: dim1 takes even
    * bit positions, dim2 odd. */
  def zkey(dim1: Column, dim2: Column): Column =
    (0 until Bits).map { i =>
      shiftright(dim1, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i)) +
        shiftright(dim2, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i + 1))
    }.reduce(_ + _)

  /** DuckDB mirror over column expressions `dim1`, `dim2`. */
  private def zkeySql(dim1: String, dim2: String): String =
    (0 until Bits).map { i =>
      s"(($dim1 >> $i) & 1) * ${1L << (2 * i)} + " +
        s"(($dim2 >> $i) & 1) * ${1L << (2 * i + 1)}"
    }.mkString("(", " + ", ")")

  val queries: Seq[Q] = Seq(

    // Z-order key over (customer, order day) for the orders table — the
    // clustering key a lakehouse write would ORDER BY so that both
    // per-customer and per-date-range queries prune at the scan.
    Q("fn_zorder", {
      val day = "date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))"
      s"""SELECT o_orderkey,
         |       CAST((o_custkey & 65535) AS BIGINT) AS cust16,
         |       CAST(($day & 65535) AS BIGINT) AS day16,
         |       CAST(${zkeySql("(o_custkey & 65535)", s"($day & 65535)")}
         |            AS BIGINT) AS zkey
         |FROM orders ORDER BY o_orderkey""".stripMargin }) { (s, d) =>
      val day = datediff(col("o_orderdate").cast("date"),
        to_date(lit("1995-01-01")))
      Tables.orders(s, d)
        .select(col("o_orderkey"),
          col("o_custkey").bitwiseAND(lit(65535L)).as("cust16"),
          day.cast("long").bitwiseAND(lit(65535L)).as("day16"))
        .select(col("o_orderkey"), col("cust16"), col("day16"),
          zkey(col("cust16"), col("day16")).as("zkey"))
        .orderBy("o_orderkey")
    },

    // The PAYOFF of fn_zorder, measured as data: lay the orders table
    // out in 256-row blocks under two clustering keys — the z-curve
    // vs a single-dimension (customer) sort — collect per-block
    // min/max stats (exactly what parquet row groups / lakehouse
    // manifests store), and count how many blocks each of two probes
    // (a customer range, a date range) must scan under min/max
    // pruning. The z-layout bounds BOTH dimensions per block, so both
    // probes prune; the customer sort prunes only its own dimension —
    // the day probe degenerates to a full scan. Block ranks come from
    // Ranking.globalRowNumber; stats are one hash agg per layout; the
    // final 4-row matrix is exact integers. The oracle replays both
    // layouts with window row_numbers — engine-identical because the
    // (key, o_orderkey) order tuple is unique.
    Q("layout_zorder_prune", {
      val day = "date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))"
      s"""WITH base AS (
         |  SELECT o_orderkey,
         |         (o_custkey & 65535) AS cust16,
         |         ($day & 65535) AS day16,
         |         ${zkeySql("(o_custkey & 65535)", s"($day & 65535)")} AS zkey
         |  FROM orders
         |), lz AS (
         |  SELECT cust16, day16,
         |         (row_number() OVER (ORDER BY zkey, o_orderkey) - 1) // 256
         |           AS blk
         |  FROM base
         |), lc AS (
         |  SELECT cust16, day16,
         |         (row_number() OVER (ORDER BY cust16, o_orderkey) - 1) // 256
         |           AS blk
         |  FROM base
         |), stats AS (
         |  SELECT 'zorder' AS layout, blk, MIN(cust16) AS c_lo,
         |         MAX(cust16) AS c_hi, MIN(day16) AS d_lo, MAX(day16) AS d_hi
         |  FROM lz GROUP BY blk
         |  UNION ALL
         |  SELECT 'cust_sort' AS layout, blk, MIN(cust16), MAX(cust16),
         |         MIN(day16), MAX(day16)
         |  FROM lc GROUP BY blk
         |), probes AS (
         |  SELECT layout, 'cust_100_160' AS probe,
         |         CAST(COUNT(*) AS BIGINT) AS n_blocks,
         |         CAST(SUM(CASE WHEN c_hi >= 100 AND c_lo <= 160
         |                       THEN 1 ELSE 0 END) AS BIGINT) AS blocks_scanned
         |  FROM stats GROUP BY layout
         |  UNION ALL
         |  SELECT layout, 'day_300_400',
         |         CAST(COUNT(*) AS BIGINT),
         |         CAST(SUM(CASE WHEN d_hi >= 300 AND d_lo <= 400
         |                       THEN 1 ELSE 0 END) AS BIGINT)
         |  FROM stats GROUP BY layout
         |)
         |SELECT layout, probe, n_blocks, blocks_scanned
         |FROM probes ORDER BY layout, probe""".stripMargin }) { (s, d) =>
      val day = datediff(col("o_orderdate").cast("date"),
        to_date(lit("1995-01-01")))
      val base = Tables.orders(s, d)
        .select(col("o_orderkey"),
          col("o_custkey").bitwiseAND(lit(65535L)).as("cust16"),
          day.cast("long").bitwiseAND(lit(65535L)).as("day16"))
        .withColumn("zkey", zkey(col("cust16"), col("day16")))
      def blocks(keys: Seq[String], layout: String) =
        Ranking.globalRowNumber(base, keys :+ "o_orderkey")
          .select(lit(layout).as("layout"),
            expr("(row_num - 1) div 256").as("blk"),
            col("cust16"), col("day16"))
      val stats = blocks(Seq("zkey"), "zorder")
        .unionByName(blocks(Seq("cust16"), "cust_sort"))
        .groupBy("layout", "blk")
        .agg(min("cust16").as("c_lo"), max("cust16").as("c_hi"),
          min("day16").as("d_lo"), max("day16").as("d_hi"))
      def probe(name: String, scanned: Column) =
        stats.groupBy("layout")
          .agg(count(lit(1)).as("n_blocks"),
            sum(when(scanned, 1).otherwise(0)).as("blocks_scanned"))
          .withColumn("probe", lit(name))
      probe("cust_100_160", col("c_hi") >= 100 && col("c_lo") <= 160)
        .unionByName(probe("day_300_400",
          col("d_hi") >= 300 && col("d_lo") <= 400))
        .select(col("layout"), col("probe"), col("n_blocks"),
          col("blocks_scanned"))
        .orderBy("layout", "probe")
    },

    // ── bucketed co-located join ───────────────────────────────────────

    // The write-time layout that deletes the biggest recurring shuffle:
    // both fact tables written BUCKETED (8 buckets, hash of the join
    // key, sorted within buckets), so the per-query orderkey join — the
    // Tables.charge shape every invoice/rollup query rides — needs NO
    // exchange at read time: each bucket pair joins locally, and the
    // per-orderkey aggregate reuses the same partitioning (grouping key
    // ⊇ bucket key ⇒ clustered distribution already satisfied). At
    // 100 TB this converts the engine's hottest join from a
    // full-corpus shuffle PER QUERY into one amortized shuffle at
    // ingest. PlanSpec pins the payoff: zero hash-partition exchanges
    // anywhere below the presentation sort (the merge hint keeps the
    // plan the SortMergeJoin the guard inspects even where a small
    // side could broadcast). The bucketed copies are session-memoized
    // (Bench's steady state measures the exchange-free read, not the
    // one-time layout write — exactly the production amortization).
    // Results are layout-independent, so the oracle is the plain join.
    Q("layout_bucket_join",
      """SELECT l.l_orderkey, o.o_orderpriority,
        |       CAST(COUNT(*) AS BIGINT) AS n_lines,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4))) AS DOUBLE)
        |         AS revenue
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |GROUP BY l.l_orderkey, o.o_orderpriority
        |ORDER BY l.l_orderkey""".stripMargin) { (s, d) =>
      val l = bucketedCopy(s, d, "lineitem", "l_orderkey",
        Seq("l_orderkey", "l_extendedprice"))
      val o = bucketedCopy(s, d, "orders", "o_orderkey",
        Seq("o_orderkey", "o_orderpriority"))
      l.hint("merge").join(o, l("l_orderkey") === o("o_orderkey"))
        .groupBy("l_orderkey", "o_orderpriority")
        .agg(count(lit(1)).as("n_lines"),
          sum(col("l_extendedprice").cast(Tables.M)).cast("double")
            .as("revenue"))
        .select("l_orderkey", "o_orderpriority", "n_lines", "revenue")
        .orderBy("l_orderkey")
    },

    // ── partition-directory pruning (the Hive-layout lever) ────────────

    // The third and most common write-time layout, completing the set
    // (zorder = clustering WITHIN files, buckets = co-location ACROSS
    // joins, partitions = directory pruning AT LISTING): orders written
    // once per (session, sf-dir) as `status=X/` Hive directories, and a
    // status-filtered read never LISTS the other directories —
    // `.explain` shows the predicate under PartitionFilters (resolved
    // at file listing, before any IO) instead of PushedFilters
    // (resolved per row group, after opening the file). At 100 TB a
    // date-partitioned lake turns a day query from a full listing into
    // one directory — this is that lever, plan-guarded. The answer is
    // layout-independent, so the plain-table oracle pins the whole
    // write→prune→agg path (src_orc_roundtrip discipline).
    Q("layout_partition_prune",
      """SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,4))) AS DOUBLE)
        |         AS total
        |FROM orders WHERE o_orderstatus = 'F'
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) {
      (s, d) =>
        val path = graft.LayoutCache.materialize("graft_part", d,
          "orders") { stage =>
          Tables.orders(s, d)
            .select("o_orderkey", "o_orderstatus", "o_orderpriority",
              "o_totalprice")
            .write.mode("overwrite").partitionBy("o_orderstatus")
            .parquet(stage)
        }
        s.read.parquet(path)
          .filter(col("o_orderstatus") === "F")
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"),
            sum(col("o_totalprice").cast(Tables.M)).cast("double")
              .as("total"))
          .orderBy("o_orderpriority")
    },

    // ── DYNAMIC partition pruning (the runtime prune) ──────────────────

    // layout_partition_prune shows the STATIC lever: a literal
    // predicate on the partition column prunes at listing time. The
    // production query rarely has the literal — it has a JOIN to a
    // filtered dimension ("closed statuses", "last fiscal week"), and
    // the partition values to keep are only known at RUNTIME, after the
    // dim side is evaluated. Spark's dynamic partition pruning reuses
    // the broadcast dim as a subquery filter ON THE FACT SCAN's
    // PartitionFilters (`dynamicpruningexpression(o_orderstatus IN
    // dynamicpruning#N)` in the plan — LayoutSpec pins it), so the
    // pruned directories are never listed even though no literal
    // appears anywhere. At 100 TB this is the difference between a
    // date-dim join scanning one week and scanning the whole lake.
    // Same `status=X/` fixture as layout_partition_prune (LayoutCache
    // memoizes the write); the 3-row status dim materializes once too.
    // The answer is layout-independent ⇒ the oracle joins the plain
    // table to the dim as VALUES.
    Q("layout_dpp",
      """SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,4))) AS DOUBLE)
        |         AS total
        |FROM orders
        |JOIN (VALUES ('F', 'closed'), ('O', 'open'), ('P', 'pending'))
        |     dim(status, label)
        |  ON o_orderstatus = dim.status
        |WHERE dim.label = 'closed'
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) {
      (s, d) =>
        val factPath = graft.LayoutCache.materialize("graft_part", d,
          "orders") { stage =>
          Tables.orders(s, d)
            .select("o_orderkey", "o_orderstatus", "o_orderpriority",
              "o_totalprice")
            .write.mode("overwrite").partitionBy("o_orderstatus")
            .parquet(stage)
        }
        val dimPath = graft.LayoutCache.materialize("graft_dpp_dim", d,
          "orders") { stage =>
          val sp = s
          import sp.implicits._
          Seq(("F", "closed"), ("O", "open"), ("P", "pending"))
            .toDF("status", "label")
            .coalesce(1).write.mode("overwrite").parquet(stage)
        }
        val dim = s.read.parquet(dimPath).filter(col("label") === "closed")
        s.read.parquet(factPath)
          .join(broadcast(dim), col("o_orderstatus") === col("status"))
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"),
            sum(col("o_totalprice").cast(Tables.M)).cast("double")
              .as("total"))
          .orderBy("o_orderpriority")
    },

    // ── small-file compaction, measured as data ────────────────────────

    // The most common lake maintenance job: a streaming/incremental
    // writer leaves thousands of small files (here: a 64-way
    // round-robin write), and every subsequent scan pays per-file open
    // cost, per-file footer reads, and a task per file — at 100 TB the
    // small-file problem IS the cluster's listing/scheduler bottleneck.
    // Compaction rewrites to few large files (here: 4). The query reads
    // BOTH layouts and reports the measured ledger — file count via
    // DISTINCT input_file_name() (real filesystem observation, not the
    // write parameter echoed back) and row conservation. Row-identical
    // answers with 16× fewer files is the whole point; the file counts
    // are deterministic because round-robin repartition(n) over a
    // non-empty table fills all n partitions. Both layouts write once
    // per (session, sf-dir) via LayoutCache.
    Q("layout_compaction",
      """SELECT * FROM (
        |  SELECT '1_small' AS stage, CAST(64 AS BIGINT) AS n_files,
        |         CAST(COUNT(*) AS BIGINT) AS n_rows
        |  FROM orders
        |  UNION ALL
        |  SELECT '2_compacted', CAST(4 AS BIGINT), CAST(COUNT(*) AS BIGINT)
        |  FROM orders
        |) t ORDER BY stage""".stripMargin) { (s, d) =>
      val path = graft.LayoutCache.materialize("graft_compact", d,
        "orders", marker = "compacted/_SUCCESS") { stage =>
        Tables.orders(s, d).select("o_orderkey", "o_totalprice")
          .repartition(64)
          .write.mode("overwrite").parquet(s"$stage/small")
        s.read.parquet(s"$stage/small")
          .repartition(4)
          .write.mode("overwrite").parquet(s"$stage/compacted")
      }
      def ledger(stage: String, sub: String) =
        s.read.parquet(s"$path/$sub")
          // input_file_name() is non-deterministic to Catalyst, so it
          // must be PROJECTED before the distinct-count aggregates it
          .select(input_file_name().as("f"))
          .agg(count_distinct(col("f")).as("n_files"),
            count(lit(1)).as("n_rows"))
          .select(lit(stage).as("stage"), col("n_files"), col("n_rows"))
      ledger("1_small", "small")
        .unionByName(ledger("2_compacted", "compacted"))
        .orderBy("stage")
    }
  )

  /** Read `table`'s `cols` as an 8-bucket copy bucketed + sorted on
    * `key`. The bucketed layout is written once per (session, sf dir)
    * to a temp-dir-backed table (`bucketBy` requires a catalog table;
    * the in-memory catalog suffices) and memoized via the catalog —
    * repeat reads see only the bucketed scan. */
  private def bucketedCopy(s: org.apache.spark.sql.SparkSession, d: String,
      table: String, key: String, cols: Seq[String])
      : org.apache.spark.sql.DataFrame = {
    // collision-proof + content-fingerprinted name (LayoutCache): a
    // regenerated fixture gets a fresh catalog table, never stale reads.
    // The PATH is additionally process-unique: the in-memory catalog is
    // per-JVM, so a shared path never saved a second JVM the write — it
    // only risked two writers interleaving task files in one directory.
    val name = s"graft_bkt_${table}_${graft.LayoutCache.key(d, table)}"
    if (!s.catalog.tableExists(name)) {
      val path = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft_buckets/${name}_p${java.lang.ProcessHandle.current().pid()}")
        .getAbsolutePath
      Tables.read(s, d, table).select(cols.map(col): _*)
        .write.mode("overwrite")
        .bucketBy(8, key).sortBy(key)
        .option("path", path)
        .saveAsTable(name)
    }
    s.table(name)
  }
}
