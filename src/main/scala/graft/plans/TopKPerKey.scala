package graft.plans

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftSqlBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, AttributeSet, BaseOrdering, Descending, JoinedRow, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.types.IntegerType

/** Per-key top-k as a FIRST-CLASS physical operator — the full (c)-tier
  * extension shape from SURVEY §7.3: custom `LogicalPlan` + planner
  * `SparkStrategy` + `SparkPlan` with a real `doExecute`, registered
  * with the rest of graft's extensions ([[Functions]]). [[AsOfJoinPlan]] demonstrates
  * the optimizer-rule lowering tier (custom node → built-in composition);
  * this operator goes one level deeper: the planner maps the node to a
  * bespoke execution operator Spark does not have.
  *
  * Why not `row_number().over(partitionBy(key).orderBy(...)) <= k`
  * (the composition [[graft.operators.Shapes]] `win_topk` ships): the
  * window form must SORT EVERY PARTITION COMPLETELY — at 100 TB that is a
  * full shuffle of the fact table followed by an O(n log n) sort per
  * partition, to then discard all but k rows per key. This operator keeps
  * a bounded heap of k rows per key and needs no sort of the input at all:
  *
  *  - a PARTIAL stage runs before the shuffle (the map-side-combine
  *    analog for top-k): each input partition is filtered down to at most
  *    k rows per key seen in that partition — the global per-key top-k is
  *    provably a subset of every partition's per-key top-k;
  *  - the exchange then moves at most (partitions × keys × k) rows, not
  *    the full table — for a selective k this is the dominant saving;
  *  - a FINAL stage (requiredChildDistribution = clustered on the keys,
  *    so EnsureRequirements inserts the hash exchange) merges the
  *    partials per key and emits the rank.
  *
  * Memory bound: one (key → k rows) heap map per task; rows are copied
  * only when they enter a heap (at most k live copies per key). The
  * PARTIAL stage additionally caps the map at
  * [[TopKPerKeyExec.PartialMaxKeys]] distinct keys and flushes on
  * overflow — a partial top-k is a FILTER, so emitting a superset stays
  * correct and the stage degrades toward pass-through instead of
  * OOMing on high-cardinality keys (where a partial hash aggregate
  * would have to spill). The final stage's bound is
  * keys-per-task × k after the shuffle, the same as a hash aggregate.
  *
  * Determinism contract (matches `row_number`): the sort columns must
  * define a TOTAL order per key (callers append a unique id as the final
  * tie-break, exactly as `win_topk` orders by (price DESC, orderkey)).
  * With a total order the kept set and emitted ranks are unique, so the
  * partial-stage discard can never drop a row that a different tie-break
  * would have kept.
  */
final case class TopKPerKeyPlan(
    child: LogicalPlan,
    keys: Seq[String],
    order: Seq[(String, Boolean)], // (column name, descending?)
    k: Int,
    override val output: Seq[Attribute]) extends UnaryNode {
  require(k > 0, s"topK: k must be positive, got $k")
  /** The rank column is generated by this operator. */
  override def producedAttributes: AttributeSet = AttributeSet(output.last :: Nil)
  /** Keys/order live here as NAMES (same contract as AsOfJoinPlan):
    * declare every child column referenced so ColumnPruning cannot strip
    * the child bare before planning. */
  override def references: AttributeSet = AttributeSet(child.output)
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerKeyPlan =
    copy(child = newChild)
}

/** Bounded-heap per-key top-k. `rankAttr = None` is the pre-shuffle
  * partial stage (emits retained rows unranked); `Some(attr)` is the
  * post-shuffle final stage (merges partials, emits 1-based rank). */
final case class TopKPerKeyExec(
    keys: Seq[Attribute],
    sortOrder: Seq[SortOrder],
    k: Int,
    rankAttr: Option[Attribute],
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output ++ rankAttr
  /** The rank column is generated here — without this the plan printer
    * flags the node `!` (missing input) and CheckAnalysis-style audits
    * would consider the plan invalid. */
  override def producedAttributes: AttributeSet = AttributeSet(rankAttr.toSeq)
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def requiredChildDistribution: Seq[Distribution] =
    if (rankAttr.isDefined) ClusteredDistribution(keys) :: Nil
    else UnspecifiedDistribution :: Nil

  override protected def doExecute(): RDD[InternalRow] = {
    val childOutput = child.output
    val so = sortOrder
    val keyExprs = keys
    val kk = k
    val rank = rankAttr
    val maxKeys = TopKPerKeyExec.PartialMaxKeys
    child.execute().mapPartitions({ iter =>
      val keyProj = UnsafeProjection.create(keyExprs, childOutput)
      // Generated comparator: lt(a, b) == a ranks before b.
      val ord: BaseOrdering = GenerateOrdering.generate(so, childOutput)
      // Per-key bounded heap; PQ head is the WORST retained row, so an
      // incoming row displaces it iff it ranks strictly before it.
      val heaps = mutable.HashMap.empty[UnsafeRow, mutable.PriorityQueue[InternalRow]]
      rank match {
        case None =>
          // PARTIAL: a filter, not an aggregate — emitting a SUPERSET of
          // the per-key top-k is always correct (the final stage
          // re-filters), which is what makes the memory cap safe: when
          // the map reaches maxKeys distinct keys (high-cardinality key
          // spaces — the case where a partial hash AGGREGATE would have
          // to spill), flush everything retained so far and start over.
          // Worst case the operator degrades to a pass-through, never to
          // an OOM.
          def flush(): Iterator[InternalRow] = {
            val rows = heaps.values.toArray.iterator.flatMap(_.iterator)
            heaps.clear()
            rows
          }
          val main = iter.flatMap { row =>
            val key = keyProj(row)
            heaps.get(key) match {
              case None =>
                val spill =
                  if (heaps.size >= maxKeys) flush() else Iterator.empty
                val pq = mutable.PriorityQueue.empty[InternalRow](ord)
                pq.enqueue(row.copy())
                heaps.put(key.copy(), pq)
                spill
              case Some(pq) =>
                if (pq.size < kk) pq.enqueue(row.copy())
                else if (ord.lt(row, pq.head)) { pq.dequeue(); pq.enqueue(row.copy()) }
                Iterator.empty
            }
          }
          main ++ flush()
        case Some(r) =>
          // FINAL: all rows of a key are co-located (clustered child
          // distribution), so the full pass must complete before ranks
          // are known — memory is keys-per-task × k rows, the same bound
          // a hash aggregate carries after the shuffle.
          iter.foreach { row =>
            val key = keyProj(row)
            heaps.get(key) match {
              case None =>
                val pq = mutable.PriorityQueue.empty[InternalRow](ord)
                pq.enqueue(row.copy())
                heaps.put(key.copy(), pq)
              case Some(pq) =>
                if (pq.size < kk) pq.enqueue(row.copy())
                else if (ord.lt(row, pq.head)) { pq.dequeue(); pq.enqueue(row.copy()) }
            }
          }
          val joined = new JoinedRow
          val outProj = UnsafeProjection.create(output, childOutput :+ r)
          heaps.valuesIterator.flatMap { pq =>
            // dequeueAll drains worst-first; reverse to rank order.
            val best = pq.dequeueAll.reverseIterator
            best.zipWithIndex.map { case (row, i) =>
              outProj(joined(row, InternalRow(i + 1))).copy()
            }
          }
      }
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerKeyExec =
    copy(child = newChild)
}

object TopKPerKeyExec {
  /** Distinct-key cap for the pre-shuffle partial stage's heap map —
    * beyond it the stage flushes and restarts (see doExecute). Var so
    * the spec can drive the flush path at test scale. */
  @volatile var PartialMaxKeys: Int = 1 << 20
}

/** Planner strategy: TopKPerKeyPlan → partial exec → (exchange inserted
  * by EnsureRequirements) → final exec. */
object TopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case n: TopKPerKeyPlan =>
      val byName = n.child.output.map(a => a.name -> a).toMap
      // duplicate names (e.g. after a self-join) would silently bind to
      // the LAST attribute via toMap — fail as loudly as the
      // unknown-column path instead
      val dupes = n.child.output.groupBy(_.name).collect {
        case (name, as) if as.size > 1 => name
      }.toSet
      def attr(c: String): Attribute = {
        if (dupes.contains(c))
          throw new IllegalArgumentException(
            s"topK: column '$c' is ambiguous — the child output carries " +
              s"it ${n.child.output.count(_.name == c)} times " +
              "(self-join?); alias the columns to unique names first")
        byName.getOrElse(c,
          throw new IllegalArgumentException(
            s"topK: column '$c' not in ${n.child.output.map(_.name).mkString(", ")}"))
      }
      val keyAttrs = n.keys.map(attr)
      val so = n.order.map { case (c, desc) =>
        SortOrder(attr(c), if (desc) Descending else Ascending)
      }
      val partial = TopKPerKeyExec(keyAttrs, so, n.k, None, planLater(n.child))
      TopKPerKeyExec(keyAttrs, so, n.k, Some(n.output.last), partial) :: Nil
    case _ => Nil
  }
}

object TopKPerKey {

  /** Top-k rows per key with a 1-based rank column appended — identical
    * output to `row_number().over(Window.partitionBy(keys).orderBy(order))
    * <= k`, without sorting any partition. Requires the strategy
    * ([[Functions]]). */
  def topK(df: DataFrame, keys: Seq[String], order: Seq[(String, Boolean)],
           k: Int, rankName: String = "rn"): DataFrame = {
    val lp = df.queryExecution.analyzed
    val rank = AttributeReference(rankName, IntegerType, nullable = false)()
    GraftSqlBridge.ofRows(df.sparkSession,
      TopKPerKeyPlan(lp, keys, order, k, lp.output :+ rank))
  }
}
