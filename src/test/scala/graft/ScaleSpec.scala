package graft

import graft.SparkSuite.{Sf0001, Sf001}
import graft.operators.Skew
import graft.streaming.Sessionize
import org.apache.spark.sql.functions._

/** 100 TB-pattern proofs on local data: salted joins/aggregations equal
  * their plain forms, bucketed co-located joins plan with zero shuffle
  * exchanges, and sessionization agrees across its three forms. */
class ScaleSpec extends SparkSuite {
  import spark.implicits._

  test("saltedJoin ≡ plain join (counts and sums)") {
    val li = Tables.lineitem(spark, Sf001)
    val p = Tables.part(spark, Sf001).select("p_partkey", "p_brand")
    def sig(df: org.apache.spark.sql.DataFrame) =
      df.agg(count(lit(1)), sum(col("l_extendedprice")).cast("decimal(28,2)"),
        countDistinct(col("p_brand"))).head.toSeq
    val plain = li.join(p, li("l_partkey") === p("p_partkey"))
    val salted = Skew.saltedJoin(
      li.withColumnRenamed("l_partkey", "p_partkey"), p, "p_partkey", 8)
    assert(sig(plain) == sig(salted))
  }

  test("salt_advisory applies the measured ≥0.5 hot-share rule") {
    val out = SparkEntry.queries("salt_advisory")(spark, Sf001)
      .collect()
      .map(r => (r.getAs[String]("key_col"), r.getAs[Double]("hot_share"),
        r.getAs[String]("advisory"))).toSeq
    assert(out.map(_._1) == Seq("event_type", "user_id"))
    out.foreach { case (keyCol, share, adv) =>
      assert(share > 0.0 && share <= 1.0, s"$keyCol share $share")
      // the advisory IS the rule — recompute it from the emitted share
      assert(adv == (if (share >= 0.5) "salt" else "aqe"), s"$keyCol")
    }
    // independent recomputation of the event_type hot share
    val e = Tables.events(spark, Sf001)
    val total = e.count().toDouble
    val maxN = e.groupBy("event_type").count()
      .agg(max("count")).head.getLong(0)
    assert(math.abs(out.head._2 - maxN / total) < 1e-12)
  }

  test("saltedSumByKey ≡ plain groupBy sum") {
    val li = Tables.lineitem(spark, Sf001)
      .withColumn("amt", col("l_extendedprice").cast("decimal(12,4)"))
    val plain = li.groupBy("l_suppkey").agg(sum(col("amt")).as("s"))
      .orderBy("l_suppkey").collect().map(r => (r.getLong(0), r.getDecimal(1)))
    val salted = Skew.saltedSumByKey(li, "l_suppkey", "amt", 8)
      .orderBy("l_suppkey").collect().map(r => (r.getLong(0), r.getDecimal(1)))
    assert(plain.sameElements(salted))
  }

  test("bucketed tables join with no shuffle exchange") {
    val bt = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      Tables.lineitem(spark, Sf0001)
        .select("l_orderkey", "l_extendedprice").write
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .mode("overwrite").saveAsTable("li_bucketed")
      Tables.orders(spark, Sf0001)
        .select("o_orderkey", "o_custkey").write
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .mode("overwrite").saveAsTable("ord_bucketed")
      val joined = spark.table("li_bucketed")
        .join(spark.table("ord_bucketed"),
          col("l_orderkey") === col("o_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan.take(500))
      assert(!plan.contains("Exchange"), "bucketed join still shuffles:\n" +
        plan.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
      assert(joined.count() > 0)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bt)
      spark.sql("DROP TABLE IF EXISTS li_bucketed")
      spark.sql("DROP TABLE IF EXISTS ord_bucketed")
    }
  }

  test("winsorized: distributed-rank twin ≡ window form on the fixture") {
    val a = SparkEntry.queries("agg_winsorized")(spark, Sf001)
      .collect().map(_.toSeq).toSeq
    val b = SparkEntry.queries("agg_winsorized_dist")(spark, Sf001)
      .collect().map(_.toSeq).toSeq
    assert(a.nonEmpty && a == b)
    for (parts <- Seq(1, 3, 8)) {
      // the rank stage is memoized per input plan, not per partition
      // count: release it so each count builds its own
      Caches.releaseAll()
      val got = withShufflePartitions(parts)(
        SparkEntry.queries("agg_winsorized_dist")(spark, Sf001)
          .collect().map(_.toSeq).toSeq)
      assert(got == a, s"parts=$parts")
    }
    Caches.releaseAll()
    // the scale claim: the distributed form has NO Window node — the
    // per-group rank window (and its 3-partition skew ceiling) is gone
    val wins = SparkEntry.queries("agg_winsorized_dist")(spark, Sf001)
      .queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
      }
    assert(wins.isEmpty, "distributed winsorized still plans a Window")
  }

  test("winsorized: ONE corpus-scale group (the window form's skew " +
      "ceiling) matches a local exact computation") {
    val n = 200000
    // deterministic 2-decimal values with heavy ties — duplicates make
    // the (value, orderkey) tiebreak load-bearing
    def v(id: Long): Double = ((id * 31 + 7) % 100003) / 100.0
    val one = spark.range(n.toLong).select(
      lit("X").as("l_returnflag"),
      udf((id: Long) => v(id)).apply(col("id")).as("l_extendedprice"),
      col("id").as("l_orderkey"), lit(1).as("l_linenumber"))
    val out = withShufflePartitions(16)(
      graft.operators.Analytics.winsorizedDistributed(one).collect())
    assert(out.length == 1 && out.head.getLong(1) == n.toLong)

    // local exact mirror: sort by (value, id), pick integer-rank
    // bounds, clamp in scale-4 BigDecimal, one double division
    val sorted = (0L until n.toLong).map(id => (v(id), id)).sortBy(identity)
    def d4(x: Double) = java.math.BigDecimal.valueOf(x)
      .setScale(4, java.math.RoundingMode.HALF_UP)
    val lo = d4(sorted(math.ceil(0.05 * n).toInt - 1)._1)
    val hi = d4(sorted(math.ceil(0.95 * n).toInt - 1)._1)
    val sum = sorted.map(_._1).map(d4)
      .map(x => if (x.compareTo(lo) < 0) lo else if (x.compareTo(hi) > 0) hi else x)
      .reduce(_ add _)
    assert(out.head.getDouble(2) == lo.doubleValue())
    assert(out.head.getDouble(3) == hi.doubleValue())
    assert(out.head.getDouble(4) == sum.doubleValue() / n)
  }

  test("winsorized distributed kernel: degenerate group sizes (1-row, " +
      "2-row) take sane bounds") {
    // ceil(0.05·1)=ceil(0.95·1)=1 → lo=hi=x for a singleton group;
    // a 2-row group clamps to [row1, row2]. Groups deliberately skewed:
    // one singleton, one pair, one 1000-row group in the same frame.
    val rows =
      Seq(("A", 42.0, 1L)) ++
      Seq(("B", 10.0, 2L), ("B", 90.0, 3L)) ++
      (0 until 1000).map(i => ("C", (i % 97).toDouble, 100L + i))
    val df = rows.toDF("l_returnflag", "l_extendedprice", "l_orderkey")
      .withColumn("l_linenumber", lit(1))
    val out = withShufflePartitions(8)(
      graft.operators.Analytics.winsorizedDistributed(df).collect())
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4))).toSeq
    assert(out.map(t => (t._1, t._2)) == Seq(("A", 1L), ("B", 2L), ("C", 1000L)))
    val a = out(0); val b = out(1)
    assert(a._3 == 42.0 && a._4 == 42.0 && a._5 == 42.0)
    assert(b._3 == 10.0 && b._4 == 90.0 && b._5 == 50.0)
    // C: values 0..96 cycling; local mirror of the exact clamp
    val sortedC = (0 until 1000).map(i => ((i % 97).toDouble, 100L + i))
      .sortBy(identity).map(_._1)
    val lo = sortedC(math.ceil(0.05 * 1000).toInt - 1)
    val hi = sortedC(math.ceil(0.95 * 1000).toInt - 1)
    val c = out(2)
    assert(c._3 == lo && c._4 == hi)
    assert(c._5 == sortedC.map(x => math.max(lo, math.min(hi, x))).sum / 1000)
  }

  test("sessionize: kernel ≡ window-SQL query ≡ stateful form (batch)") {
    val evs = Tables.events(spark, Sf0001)
      .select(col("user_id"), unix_micros(col("ts")).as("tsMicros"),
        col("value")).as[Sessionize.Ev]
    val viaFlat = Sessionize.flatSessions(spark, evs, 30)
      .collect().map(s => (s.user_id, s.start_us, s.end_us, s.n))
      .sortBy(x => (x._1, x._2))
    val viaWindow = SparkEntry.queries("win_sessionize")(spark, Sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4)))
      .sortBy(x => (x._1, x._2))
    assert(viaFlat.nonEmpty)
    assert(viaFlat.sameElements(viaWindow))
  }

  test("stateful sessionization over a real stream matches batch sessions") {
    import org.apache.spark.sql.streaming.Trigger
    val tmp = java.nio.file.Files.createTempDirectory("sess").toString
    Tables.events(spark, Sf0001)
      .select(col("user_id"), unix_micros(col("ts")).as("tsMicros"),
        col("value"))
      .write.mode("overwrite").parquet(tmp)
    val schema = spark.read.parquet(tmp).schema
    val stream = spark.readStream.schema(schema).parquet(tmp).as[Sessionize.Ev]
    val q = Sessionize.statefulSessions(spark, stream, 30)
      .writeStream.format("memory").queryName("sess_out")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.table("sess_out")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(x => (x._1, x._2)).toSeq
    // expected: every gap-closed session, PLUS each user's open tail
    // whose event-time timeout (end + gap) fell behind the final
    // watermark (max event time - 10 min delay) — those are emitted by
    // the EventTimeTimeout path, so idle users are not withheld forever
    val evs = spark.read.parquet(tmp).as[Sessionize.Ev]
    val wmMs = evs.collect().map(_.tsMicros).max / 1000 - 10 * 60 * 1000
    val gapMs = 30L * 60 * 1000
    val expected = Sessionize.flatSessions(spark, evs, 30)
      .collect().groupBy(_.user_id)
      .flatMap { case (_, ss) =>
        val sorted = ss.sortBy(_.start_us)
        val tail = sorted.last
        sorted.dropRight(1).toSeq ++
          (if (tail.end_us / 1000 + gapMs < wmMs) Seq(tail) else Nil)
      }
      .map(s => (s.user_id, s.start_us, s.end_us))
      .toSeq.sortBy(x => (x._1, x._2))
    assert(streamed.nonEmpty)
    assert(streamed == expected)
    // the timeout path must actually fire for this fixture: more
    // sessions than the gap-closed set alone
    val closedOnly = Sessionize.flatSessions(spark, evs, 30).collect()
      .groupBy(_.user_id).values.map(_.length - 1).sum
    assert(streamed.size > closedOnly, "no tails were timed out")
  }
}
