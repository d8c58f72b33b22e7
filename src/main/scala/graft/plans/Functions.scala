package graft.plans

import scala.reflect.ClassTag

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** graft's whole Catalyst extension surface, wired in one place: the
  * five native SQL functions, the as-of optimizer rule
  * ([[AsOfJoinPlan.Lowering]]) and the top-k planner strategy
  * ([[TopKStrategy]]). A session gets all of them through one call:
  *  - a running session: `Functions.registerAll(spark)`, which every
  *    first-party session factory makes (`SparkEntry.session`, the
  *    shared test session, graftbench's harness);
  *  - session build / cluster deploy:
  *    `spark.sql.extensions=graft.plans.GraftExtensions`.
  *
  * Nothing registers lazily: a session that made neither call fails
  * loudly, with UNRESOLVED_ROUTINE for a function and no physical plan
  * for a custom node. */
object Functions {

  /** Every SQL function as Spark's (identifier, info, builder). Each
    * builder checks its arity, so a wrong-arity call fails analysis
    * with "<name> expects N arguments" rather than an index error. */
  private[plans] val all
      : Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    fn[VectorDot]("vector_dot", 2)(e => VectorDot(e(0), e(1))),
    fn[VectorSqDist]("vector_sqdist", 2)(e => VectorSqDist(e(0), e(1))),
    fn[VectorL2Sq]("vector_l2sq", 2)(e => VectorL2Sq(e(0), e(1))),
    fn[DueDateExpression]("due_date", 3)(e => DueDateExpression(e(0), e(1), e(2))),
    fn[BloomMightContain]("bloom_might_contain", 2)(e => BloomMightContain(e(0), e(1))))

  private def fn[E <: Expression](name: String, arity: Int)(build: Seq[Expression] => E)(
      implicit ct: ClassTag[E]) =
    (FunctionIdentifier(name), new ExpressionInfo(ct.runtimeClass.getName, name),
      (exprs: Seq[Expression]) => {
        require(exprs.length == arity,
          s"$name expects $arity arguments, got ${exprs.length}")
        build(exprs): Expression
      })

  /** Register every function and install the rule and the strategy on
    * a running session. Idempotent; starts no job. */
  def registerAll(spark: SparkSession): Unit = {
    all.foreach { case (id, info, build) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, build)
    }
    val hooks = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].experimental
    if (!hooks.extraOptimizations.exists(_.isInstanceOf[AsOfJoinPlan.Lowering]))
      hooks.extraOptimizations ++= Seq(AsOfJoinPlan.Lowering(spark))
    if (!hooks.extraStrategies.contains(TopKStrategy))
      hooks.extraStrategies ++= Seq(TopKStrategy)
  }
}

/** `spark.sql.extensions` entry point: injects the same functions, rule
  * and strategy as [[Functions.registerAll]] at session build. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    Functions.all.foreach(e.injectFunction)
    e.injectOptimizerRule(spark => AsOfJoinPlan.Lowering(spark))
    e.injectPlannerStrategy(_ => TopKStrategy)
  }
}
