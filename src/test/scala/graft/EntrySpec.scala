package graft

import graft.SparkSuite.{Sf0001, Sf001}

/** Driver-contract smoke: entry rows > 0, every query runs, oracle map
  * is consistent with the query map. */
class EntrySpec extends SparkSuite {

  test("entry (DD rollup on sf0.001) returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("oracleSql keys are a subset of queries keys") {
    val qs = SparkEntry.queries.keySet
    val extra = SparkEntry.oracleSql.keySet -- qs
    assert(extra.isEmpty, s"oracle entries without queries: $extra")
  }

  test("the sorted-FIRST oracle carries the connection-arming SET " +
      "prelude (threads/mmap-ceiling fix)") {
    // The correctness harness runs all oracles on ONE DuckDB connection
    // in sorted order; the fix for the r9 OOM cascade (Linux
    // vm.max_map_count ceiling at DuckDB threads=32) lives as SET
    // statements at the head of whichever oracle sorts FIRST. If a new
    // query ever sorts before agg_balance_check, the prelude silently
    // stops arming the run and the cascade returns — fail HERE instead,
    // naming the move.
    val first = SparkEntry.oracleSql.keys.min
    assert(first == "agg_balance_check",
      s"'$first' now sorts before agg_balance_check — move the SET " +
        "prelude (threads=8, allocator_flush_threshold, temp_directory, " +
        "memory_limit) to ITS oracle text or the single-connection " +
        "oracle run loses its mmap-ceiling protection")
    val sql = SparkEntry.oracleSql(first)
    for (setting <- Seq("SET threads=", "SET allocator_flush_threshold=",
        "SET temp_directory=", "SET memory_limit="))
      assert(sql.contains(setting), s"first oracle lost '$setting'")
    assert(sql.trim.startsWith("SET "),
      "the SET prelude must LEAD the first oracle's text")
  }

  test("oracle_sql.json round-trips every control character") {
    val sql = "SELECT 'a\"b' AS q, '\\' AS bs, '\t' AS tab, '\r' AS cr, " +
      "'\u0001' AS soh\nFROM t"
    val json = Verify.oracleJson(Map("q1" -> sql, "q\"2" -> "SELECT 1"))
    assert(!json.exists(_ < ' '), "raw control character in the JSON text")
    val back = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
    assert(back.size == 2)
    assert(back.get("q1").asText == sql)
    assert(back.get("q\"2").asText == "SELECT 1")
  }

  test("query names are unique (a collision silently drops a query)") {
    val names = SparkEntry.allNames
    val dups = names.groupBy(identity).collect { case (n, v) if v.size > 1 => n }
    assert(dups.isEmpty, s"duplicate query names: $dups")
    assert(SparkEntry.queries.size == names.size)
  }

  test("every query runs non-empty on sf0.001 (except fixture-pinned filters)") {
    // flt_eq4 pins a literal key that only exists at sf0.01+; everything
    // else must produce rows at the smallest scale factor.
    val mayBeEmpty = Set("flt_eq4", "chk_balance_warn", "join_verify_anti",
      "dedup_embed", "dedup_minhash")
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, Sf0001).count()
      if (!mayBeEmpty(name)) assert(n > 0, s"$name returned 0 rows")
    }
  }

  test("verification queries are non-empty at sf0.01 (fixture has misses)") {
    assert(SparkEntry.queries("join_verify_anti")(spark, Sf001).count() > 0)
    assert(SparkEntry.queries("chk_balance_warn")(spark, Sf001).count() > 0)
  }

  test("join_exists_semi ≡ inner-join-distinct twin; " +
      "except/intersect partition the 1995 actives") {
    import org.apache.spark.sql.functions._
    val sf = SparkSuite.Sf0001
    val semi = SparkEntry.queries("join_exists_semi")(spark, sf)
      .collect().map(_.getLong(0)).toSeq
    val urgent = Tables.orders(spark, sf)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey")).distinct()
      .collect().map(_.getLong(0)).toSet
    val twin = Tables.customer(spark, sf).select("c_custkey").collect()
      .map(_.getLong(0)).filter(urgent).sorted.toSeq
    assert(semi == twin, "semi join ≡ filtered customers")

    def active(y: Int) = Tables.orders(spark, sf)
      .filter(year(col("o_orderdate").cast("date")) === y)
      .select("o_custkey").collect().map(_.getLong(0)).toSet
    val (a95, a96) = (active(1995), active(1996))
    val churn = SparkEntry.queries("set_except_churn")(spark, sf)
      .collect().map(_.getLong(0)).toSet
    val loyal = SparkEntry.queries("set_intersect_loyal")(spark, sf)
      .collect().map(_.getLong(0)).toSet
    assert(churn == a95.diff(a96) && loyal == a95.intersect(a96))
    assert((churn ++ loyal) == a95 && churn.intersect(loyal).isEmpty,
      "except ∪ intersect partitions the 1995 actives")
  }
}
