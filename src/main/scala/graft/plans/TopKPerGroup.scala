package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, AttributeSet, Descending, Expression, GenericInternalRow, JoinedRow, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{AllTuples, ClusteredDistribution, Distribution, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.graftbridge.GraftBridge
import org.apache.spark.sql.types.IntegerType

/** SURVEY §2.D x04 — a whole custom OPERATOR through the full
  * extension stack: logical plan node → injected planner `Strategy` →
  * custom physical `SparkPlan`.
  *
  * `TopKPerGroup(group, order, k)` emits, per group, the first k rows
  * in `order` plus a 1-based rank column — the "top-N per key" shape
  * esop's `ListOperation.filterLastN` (reference
  * `impl/list/ListOperation.java:181-198`) applies per node, and a
  * training-data pipeline applies per document (d19's top TF-IDF
  * terms).
  *
  * Why a custom physical operator instead of the stock
  * `row_number().over(partitionBy(group).orderBy(order)) <= k` plan:
  * Spark 4.1 plans that window as a SORT-based `WindowGroupLimit
  * Partial → Exchange → WindowGroupLimit Final`, so the exchange is
  * already pruned to ≤ k rows per group per partition — but only after
  * each input partition is fully sorted. This operator's map-side
  * PARTIAL pass keeps at most k rows per group in bounded heaps
  * (O(log k) per row, no sort of the discarded majority); the FINAL
  * pass re-prunes after the shuffle and ranks the k survivors.
  *
  * Kept on a measured win: with the `TopK.perGroup` body swapped for
  * the window form (oracle still 239/239), sf0.1 single-query probes
  * (`BenchProbe`, 2 alternating rounds, 4-core VM) slowed every
  * pair-stream family — d80 0.91/0.96 → 1.52/1.76 s, d06 1.71/1.70 →
  * 3.26/3.61 s, d74 1.32/1.26 → 2.83/3.43 s, d82 2.87/2.96 →
  * 15.2/16.4 s — while the text families (d19/d38/d84) stayed within
  * noise.
  *
  * Semantics note: ranks are deterministic iff `order` is a total
  * order within each group (ties broken by a unique trailing key, as
  * row_number demands anyway for reproducible results).
  *
  * Memory: each task holds ≤ k rows per distinct group seen in its
  * partition (same residency class as a hash-aggregate partial,
  * minus spill support — callers with unbounded group cardinality per
  * partition AND wide rows should pre-partition or fall back to the
  * window form).
  */
case class TopKPerGroup(
    groupExprs: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    rankAttr: AttributeReference,
    child: LogicalPlan) extends UnaryNode {

  require(k > 0, s"top-k per group needs k > 0, got $k")

  override def output: Seq[Attribute] = child.output :+ rankAttr
  override def producedAttributes: AttributeSet = AttributeSet(rankAttr :: Nil)
  override def maxRows: Option[Long] = child.maxRows

  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerGroup =
    copy(child = newChild)
}

/** Physical top-k-per-group. `rankAttr = None` is the PARTIAL mode
  * (pre-shuffle prune, no rank emitted, any input distribution);
  * `Some(_)` is the FINAL mode (requires group-clustered input, emits
  * ranks 1..k). The planner stacks partial → exchange → final exactly
  * like a two-phase aggregate.
  */
case class TopKPerGroupExec(
    groupExprs: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    rankAttr: Option[AttributeReference],
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output ++ rankAttr
  override def producedAttributes: AttributeSet = AttributeSet(rankAttr.toSeq)

  override def requiredChildDistribution: Seq[Distribution] =
    if (rankAttr.isEmpty) UnspecifiedDistribution :: Nil
    else if (groupExprs.isEmpty) AllTuples :: Nil
    else ClusteredDistribution(groupExprs) :: Nil

  override def outputPartitioning: Partitioning = child.outputPartitioning

  override def nodeName: String =
    if (rankAttr.isEmpty) "TopKPerGroupPartial" else "TopKPerGroupFinal"

  protected override def doExecute(): RDD[InternalRow] = {
    val childOutput = child.output
    // -0.0 and 0.0 (and NaNs) must land in ONE group: the heap map
    // keys on raw UnsafeRow bytes, and without this an exchange that
    // co-partitions them (hash normalizes floats) would still split
    // them into two heaps. Same normalization Aggregate/Window get
    // from the optimizer; a no-op for non-float group types.
    val grp = groupExprs.map(GraftBridge.normalizeFloats)
    val ord = order
    val kk = k
    val rank = rankAttr
    val outAttrs = output
    child.execute().mapPartitions { iter =>
      val keyProj = UnsafeProjection.create(grp, childOutput)
      val toUnsafe = UnsafeProjection.create(childOutput.map(_.dataType).toArray)
      val cmp = RowOrdering.create(ord, childOutput)
      // Root of each bounded heap = the WORST kept row, so admission is
      // one compare against the root and eviction is O(log k).
      val worstFirst = new java.util.Comparator[UnsafeRow] {
        override def compare(a: UnsafeRow, b: UnsafeRow): Int = cmp.compare(b, a)
      }
      val groups = new java.util.LinkedHashMap[UnsafeRow, java.util.PriorityQueue[UnsafeRow]]()
      while (iter.hasNext) {
        val row = iter.next()
        val key = keyProj(row)
        var q = groups.get(key)
        if (q == null) {
          q = new java.util.PriorityQueue[UnsafeRow](kk, worstFirst)
          groups.put(key.copy(), q)
        }
        if (q.size() < kk) {
          q.add(toUnsafe(row).copy())
        } else if (cmp.compare(row, q.peek()) < 0) {
          q.poll()
          q.add(toUnsafe(row).copy())
        }
      }
      import scala.jdk.CollectionConverters._
      val kept = groups.values().iterator().asScala
      rank match {
        case None =>
          // partial: survivors only, heap order is irrelevant pre-shuffle
          kept.flatMap(_.iterator().asScala)
        case Some(r) =>
          val joined = new JoinedRow
          val rankRow = new GenericInternalRow(1)
          val proj = UnsafeProjection.create(outAttrs, childOutput :+ r)
          kept.flatMap { q =>
            val arr = q.toArray(new Array[UnsafeRow](q.size()))
            java.util.Arrays.sort(arr, cmp)
            arr.iterator.zipWithIndex.map { case (row, i) =>
              rankRow.update(0, i + 1)
              proj(joined(row, rankRow))
            }
          }
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerGroupExec =
    copy(child = newChild)
}

/** Planner strategy (injected via
  * [[GraftExtensions]]`.injectPlannerStrategy`): plans the logical
  * node as partial → (exchange inserted by EnsureRequirements) →
  * final, the same two-phase shape Spark gives aggregates.
  */
object TopKPerGroupStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerGroup(grp, ord, k, rank, child) =>
      val partial = TopKPerGroupExec(grp, ord, k, None, planLater(child))
      TopKPerGroupExec(grp, ord, k, Some(rank), partial) :: Nil
    case _ => Nil
  }
}

/** DataFrame-level API for the operator. */
object TopK {

  /** First k rows per group in the given order, plus a 1-based rank
    * column. `orderBy` is (columnName, descending); make it a total
    * order within each group for deterministic ranks.
    */
  def perGroup(
      df: DataFrame,
      groupCols: Seq[String],
      orderBy: Seq[(String, Boolean)],
      k: Int,
      rankName: String = "rn"): DataFrame = {
    val analyzed = df.queryExecution.analyzed
    val resolver = df.sparkSession.sessionState.analyzer.resolver
    def attr(n: String): Attribute =
      analyzed.output.find(a => resolver(a.name, n)).getOrElse(
        throw new IllegalArgumentException(
          s"topKPerGroup: no column '$n' in ${analyzed.output.map(_.name).mkString(", ")}"))
    val order = orderBy.map { case (n, desc) =>
      SortOrder(attr(n), if (desc) Descending else Ascending)
    }
    val rank = AttributeReference(rankName, IntegerType, nullable = false)()
    GraftBridge.ofRows(df.sparkSession,
      TopKPerGroup(groupCols.map(attr), order, k, rank, analyzed))
  }
}
