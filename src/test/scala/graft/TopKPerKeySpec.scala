package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.plans.{TopKPerKey, TopKPerKeyExec}

/** The custom per-key top-k physical operator must be row-identical to
  * the window row_number composition, plan as partial → exchange → final
  * (bounded rows cross the shuffle), and never sort or window the input.
  */
class TopKPerKeySpec extends SparkSuite {

  private def orders = Tables.orders(spark, SparkSuite.Sf0001)

  private def windowForm(k: Int) = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    orders.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .select(orders.columns.map(col) :+ col("rn"): _*)
  }

  test("row-identical to the window row_number form (k = 3)") {
    val got = TopKPerKey.topK(orders, Seq("o_custkey"),
        Seq("o_totalprice" -> true, "o_orderkey" -> false), 3)
      .orderBy("o_custkey", "rn").collect().map(_.toSeq).toSeq
    val want = windowForm(3)
      .orderBy("o_custkey", "rn").collect().map(_.toSeq).toSeq
    assert(got.nonEmpty && got == want)
  }

  test("ambiguous (duplicated) column names fail loudly, not last-wins") {
    val sp = spark
    import sp.implicits._
    // self-join shape: both sides contribute a column named `v`
    val l = Seq(("a", 1.0)).toDF("g", "v")
    val r = Seq(("a", 2.0)).toDF("g2", "v")
    val dup = l.join(r, col("g") === col("g2"))
    val ex = intercept[Exception] {
      TopKPerKey.topK(dup, Seq("g"), Seq("v" -> true), 1).collect()
    }
    def msgs(t: Throwable): List[String] =
      if (t == null) Nil else Option(t.getMessage).toList ::: msgs(t.getCause)
    assert(msgs(ex).exists(_.contains("ambiguous")), s"got: ${msgs(ex)}")
  }

  test("k = 1 and keys with fewer than k rows") {
    val sp = spark
    import sp.implicits._
    val df = Seq(("a", 3.0, 1L), ("a", 7.0, 2L), ("b", 5.0, 3L))
      .toDF("g", "v", "id")
    val top2 = TopKPerKey.topK(df, Seq("g"), Seq("v" -> true, "id" -> false), 2)
      .orderBy("g", "rn").collect().map(r => (r.getString(0), r.getDouble(1), r.getInt(3)))
    assert(top2.toSeq == Seq(("a", 7.0, 1), ("a", 3.0, 2), ("b", 5.0, 1)))
    val top1 = TopKPerKey.topK(df, Seq("g"), Seq("v" -> true, "id" -> false), 1)
      .orderBy("g").collect().map(r => (r.getString(0), r.getDouble(1)))
    assert(top1.toSeq == Seq(("a", 7.0), ("b", 5.0)))
  }

  test("ties broken by the trailing unique column, as row_number would") {
    val sp = spark
    import sp.implicits._
    // equal v values: the id tie-break decides both membership and rank
    val df = Seq(("a", 1.0, 4L), ("a", 1.0, 2L), ("a", 1.0, 3L), ("a", 1.0, 1L))
      .toDF("g", "v", "id").repartition(3)
    val got = TopKPerKey.topK(df, Seq("g"), Seq("v" -> true, "id" -> false), 2)
      .orderBy("rn").collect().map(r => (r.getLong(2), r.getInt(3)))
    assert(got.toSeq == Seq((1L, 1), (2L, 2)))
  }

  test("plan: partial below the exchange, final above; no Window, no Sort") {
    val df = TopKPerKey.topK(orders, Seq("o_custkey"),
      Seq("o_totalprice" -> true, "o_orderkey" -> false), 3)
    df.collect() // materialize so AQE finalizes the plan
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerKey"), plan)
    assert(!plan.contains("!TopKPerKey"), s"node must not be flagged invalid:\n$plan")
    assert(!plan.contains("Window") && !plan.contains("Sort "),
      s"must not sort or window the input:\n$plan")
    // partial stage (no rank) below the shuffle, final above it
    val idxPartial = plan.lastIndexOf("TopKPerKey ")
    val idxFinal = plan.indexOf("TopKPerKey ")
    val idxExchange = plan.indexOf("Exchange")
    assert(idxFinal < idxExchange && idxExchange < idxPartial,
      s"expected final → Exchange → partial layering:\n$plan")
  }

  test("partial stage bounds what crosses the shuffle") {
    val sp = spark
    import sp.implicits._
    // 1000 rows, one key, spread over 8 partitions: the exchange sees at
    // most 8 × k rows, and the final output is exactly k.
    val df = (1L to 1000L).map(i => ("k", i.toDouble, i)).toDF("g", "v", "id")
      .repartition(8)
    val out = TopKPerKey.topK(df, Seq("g"), Seq("v" -> true, "id" -> false), 5)
      .collect()
    assert(out.length == 5)
    assert(out.map(_.getDouble(1)).sorted.toSeq == Seq(996.0, 997.0, 998.0, 999.0, 1000.0))
  }

  test("partial-stage overflow flush: supersets cross the shuffle, output unchanged") {
    import graft.plans.TopKPerKeyExec
    val saved = TopKPerKeyExec.PartialMaxKeys
    try {
      TopKPerKeyExec.PartialMaxKeys = 2 // force constant flushing
      val got = TopKPerKey.topK(orders, Seq("o_custkey"),
          Seq("o_totalprice" -> true, "o_orderkey" -> false), 3)
        .orderBy("o_custkey", "rn").collect().map(_.toSeq).toSeq
      val want = windowForm(3)
        .orderBy("o_custkey", "rn").collect().map(_.toSeq).toSeq
      assert(got == want)
    } finally TopKPerKeyExec.PartialMaxKeys = saved
  }

  test("property: ≡ window form on random keys/values/partitionings") {
    val sp = spark
    import sp.implicits._
    import org.scalacheck.Gen
    val gen = for {
      n <- Gen.choose(0, 120)
      rows <- Gen.listOfN(n, for {
        g <- Gen.choose(0, 6)
        v <- Gen.choose(-50, 50)
      } yield (g.toLong, v.toDouble))
      k <- Gen.choose(1, 4)
      parts <- Gen.choose(1, 5)
    } yield (rows, k, parts)
    SparkSuite.samples(gen, 12).zipWithIndex.foreach {
      case ((rows, k, parts), i) =>
        // unique id per row = deterministic total order
        val df = rows.zipWithIndex.map { case ((g, v), id) => (g, v, id.toLong) }
          .toDF("g", "v", "id").repartition(parts)
        val got = TopKPerKey.topK(df, Seq("g"), Seq("v" -> true, "id" -> false), k)
          .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2), r.getInt(3)))
          .sortBy(t => (t._1, t._4)).toSeq
        val w = Window.partitionBy("g").orderBy(col("v").desc, col("id"))
        val want = df.withColumn("rn", row_number().over(w))
          .filter(col("rn") <= k)
          .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2), r.getInt(3)))
          .sortBy(t => (t._1, t._4)).toSeq
        assert(got == want, s"sample $i: k=$k parts=$parts rows=${rows.size}")
    }
  }

  test("unknown column fails loudly") {
    val err = intercept[Exception] {
      TopKPerKey.topK(orders, Seq("nope"), Seq("o_totalprice" -> true), 3).collect()
    }
    assert(err.getMessage.contains("nope") ||
      err.getCause != null && err.getCause.getMessage.contains("nope"))
  }
}
