package graft

import graft.SparkSuite.Sf001
import graft.operators.Ranking
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Ranking.globalRowNumber ≡ the partition-less window form, for any
  * session partition count, coalesced or not — the scale-safe
  * replacement must be bit-identical to what it replaced. */
class RankingSpec extends SparkSuite {

  test("globalRowNumber equals row_number over a global window") {
    val df = Tables.charge(spark, Sf001)
      .filter(col("customerId") === "42").select("id")
    val viaWindow = df
      .withColumn("row_num", row_number().over(Window.orderBy("id")).cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._2)
    def viaRanking() = Ranking.globalRowNumber(df, "id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._2)
    for (parts <- Seq(1, 3, 8)) {
      val ranked = withShufflePartitions(parts)(viaRanking())
      assert(ranked.length == viaWindow.length)
      assert(ranked.sameElements(viaWindow), s"parts=$parts")
    }
    // the production path: the session's partitions, AQE coalescing on
    assert(viaRanking().sameElements(viaWindow), "coalesced")
  }

  test("globalRowNumber's range exchange takes the session's partition " +
      "count") {
    val df = spark.range(1000).select(col("id"))
    for (parts <- Seq(3, 8)) {
      val n = withShufflePartitions(parts)(
        Ranking.globalRowNumber(df, "id").rdd.getNumPartitions)
      assert(n == parts, s"shuffle.partitions=$parts ran $n partitions")
    }
  }

  test("globalRowNumber keeps every input column and appends row_num") {
    val df = Tables.tillTotals(spark, Sf001).select("date", "customerCount")
    val out = Ranking.globalRowNumber(df, "date")
    assert(out.columns.toSeq == Seq("date", "customerCount", "row_num"))
    val rows = out.orderBy("row_num").collect()
    assert(rows.head.getLong(2) == 1L)
    assert(rows.last.getLong(2) == rows.length.toLong)
    // ordered by the key: dates ascend with row_num
    val dates = rows.map(_.getDate(0).toString)
    assert(dates.sameElements(dates.sorted))
  }
}
