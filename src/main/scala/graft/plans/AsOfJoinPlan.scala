package graft.plans

import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, NamedExpression}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule

import graft.operators.Temporal

/** The as-of join as a FIRST-CLASS Catalyst operator — the (c)-tier
  * extension shape from SURVEY §7.3 (custom `LogicalPlan` +
  * `Rule[LogicalPlan]` registered through the extension points), built
  * on top of the (a)-tier composition that already exists
  * ([[Temporal.asOf]]): the node carries the SEMANTICS ("latest right
  * row at-or-before each left row per key"), the rule picks the
  * union+window lowering. That split is what makes the operator a
  * planning citizen — a future rule could choose a different physical
  * shape (e.g. a sort-merge as-of) without touching any caller.
  *
  * The lowering is registered with the rest of graft's extensions
  * ([[Functions]]).
  *
  * The node reports itself resolved once its children are (its output
  * is fixed at construction), so it passes analysis untouched and the
  * optimizer-time rule swaps it for the lowered plan, aliasing every
  * output to the node's original exprIds so downstream references
  * survive the substitution.
  */
final case class AsOfJoinPlan(
    left: LogicalPlan, right: LogicalPlan,
    keys: Seq[String], ts: String, payload: Seq[String],
    override val output: Seq[Attribute]) extends BinaryNode {
  /** The asof_* columns are GENERATED by this operator (they exist in
    * no child), which CheckAnalysis must be told explicitly. */
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(
      output.drop(left.output.size))
  /** Keys/ts/payload live here as NAMES, so the default (expression-
    * derived, hence empty) references would let ColumnPruning strip the
    * children bare before the lowering runs — declare everything. */
  override def references: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(
      left.output ++ right.output)
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinPlan =
    copy(left = newLeft, right = newRight)
}

object AsOfJoinPlan {

  /** Build a DataFrame whose plan contains the custom operator node.
    * Requires the lowering ([[Functions]]) — without it the planner has
    * no strategy for the node. */
  def asOf(left: DataFrame, right: DataFrame, keys: Seq[String], ts: String,
           payload: Seq[String]): DataFrame = {
    val lp = left.queryExecution.analyzed
    val rp = right.queryExecution.analyzed
    val rType = rp.output.map(a => a.name -> a.dataType).toMap
    val asofAttrs = (ts +: payload).map { c =>
      AttributeReference(s"asof_$c", rType(c), nullable = true)()
    }
    GraftSqlBridge.ofRows(left.sparkSession,
      AsOfJoinPlan(lp, rp, keys, ts, payload, lp.output ++ asofAttrs))
  }

  /** Optimizer rule: lower the semantic node to the union+window
    * composition, pinning the node's exprIds on the way out. */
  final case class Lowering(spark: SparkSession) extends Rule[LogicalPlan] {
    override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
      case n: AsOfJoinPlan =>
        // substitute the OPTIMIZED subtree: registerAll installs the
        // rule in the LAST optimizer batch, so an analyzed-only
        // substitution would execute without column pruning / constant
        // folding (the extensions path re-optimizes anyway; for it this
        // is a no-op cost). Cross-boundary pushdown from operators above the node
        // still needs the extensions path — documented trade-off.
        val lowered = Temporal.asOf(
          GraftSqlBridge.ofRows(spark, n.left),
          GraftSqlBridge.ofRows(spark, n.right),
          n.keys, n.ts, n.payload).queryExecution.optimizedPlan
        val pinned: Seq[NamedExpression] =
          n.output.zip(lowered.output).map { case (want, have) =>
            Alias(have, want.name)(exprId = want.exprId)
          }
        Project(pinned, lowered)
    }
  }
}
