package graft

import org.apache.spark.sql.functions._
import graft.plans.AsOfJoinPlan
import graft.operators.Temporal

/** The custom Catalyst as-of operator must carry its semantics through
  * analysis as a first-class node, lower to the union+window plan at
  * optimization, and keep downstream references valid (exprId pinning).
  */
class AsOfJoinPlanSpec extends SparkSuite {

  private def fixtures = {
    val sp = spark
    import sp.implicits._
    val left = Seq((1L, 5L), (1L, 15L), (2L, 9L))
      .toDF("k", "ts")
    val right = Seq((1L, 10L, 1.5), (1L, 14L, 2.5), (2L, 1L, 9.0))
      .toDF("k", "ts", "v")
    (left, right)
  }

  test("node ≡ direct composition; lowered out of the physical plan") {
    val (left, right) = fixtures
    val viaNode = AsOfJoinPlan.asOf(left, right, Seq("k"), "ts", Seq("v"))
    assert(viaNode.queryExecution.analyzed.toString.contains("AsOfJoinPlan"),
      "the semantic node should survive analysis")
    assert(!viaNode.queryExecution.executedPlan.toString.contains("AsOfJoinPlan"),
      "the node must be lowered before planning")
    val direct = Temporal.asOf(left, right, Seq("k"), "ts", Seq("v"))
    assert(viaNode.orderBy("k", "ts").collect().map(_.toSeq).toSeq ==
      direct.orderBy("k", "ts").collect().map(_.toSeq).toSeq)
  }

  test("downstream operators on the node's output resolve (exprId pinning)") {
    val (left, right) = fixtures
    val out = AsOfJoinPlan.asOf(left, right, Seq("k"), "ts", Seq("v"))
      .filter(col("asof_v").isNotNull)
      .groupBy("k").agg(sum("asof_v").as("s"))
      .orderBy("k")
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    // k=1: ts=5 no match, ts=15 → v=2.5; k=2: ts=9 → v=9.0
    assert(out.toSeq == Seq((1L, 2.5), (2L, 9.0)))
  }
}
