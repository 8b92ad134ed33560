package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  Ascending, Attribute, GenericInternalRow, JoinedRow, SortOrder,
  UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{
  AllTuples, ClusteredDistribution, Distribution}
import org.apache.spark.sql.catalyst.expressions.RowOrdering
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}

/** As-of join as a FIRST-CLASS physical operator: the distributed form
  * of the reference's sorted-merge-within-key algorithm
  * (`/root/reference/core/index.c:3194-3269` — right rows grouped per
  * key, per-left-row scan for the greatest right ts ≤ left ts).
  *
  * Where the window rewrite (`operators/AsofJoin`) unions both sides
  * through one shuffle+sort, this operator declares its requirements to
  * the planner — children clustered on the join keys and sorted by
  * (keys…, ts) — and merges the two sorted streams per partition in one
  * pass, zero extra materialization. EnsureRequirements inserts the
  * exchanges/sorts only when the children aren't already partitioned
  * that way, so a pre-bucketed/sorted table pays NO shuffle at all —
  * the property that matters at warehouse scale.
  */
case class AsofJoinNode(left: LogicalPlan, right: LogicalPlan,
                        leftKeys: Seq[Attribute], rightKeys: Seq[Attribute],
                        leftTs: Attribute, rightTs: Attribute,
                        rightTie: Attribute,
                        payload: Seq[Attribute]) extends BinaryNode {
  override def output: Seq[Attribute] =
    left.output ++ payload.map(_.withNullability(true))
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsofJoinNode =
    copy(left = newLeft, right = newRight)
}

/** Plans the engine's merge operators: the as-of join and the sliding
  * window join ([[WindowJoinNode]]). */
object AsofJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsofJoinNode(l, r, lk, rk, lt, rt, tie, p) =>
      AsofJoinExec(planLater(l), planLater(r), lk, rk, lt, rt, tie, p) :: Nil
    case WindowJoinNode(l, r, lk, rk, lt, rt, vs, as, ao, lo, hi, jt) =>
      WindowJoinExec(planLater(l), planLater(r), lk, rk, lt, rt, vs, as, ao,
        lo, hi, jt) :: Nil
    case _ => Nil
  }

  /** Adds this strategy to `spark`'s planner, once. */
  def install(spark: org.apache.spark.sql.SparkSession): Unit =
    if (!spark.experimental.extraStrategies.contains(this))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ this
}

case class AsofJoinExec(left: SparkPlan, right: SparkPlan,
                        leftKeys: Seq[Attribute], rightKeys: Seq[Attribute],
                        leftTs: Attribute, rightTs: Attribute,
                        rightTie: Attribute,
                        payload: Seq[Attribute]) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ payload.map(_.withNullability(true))

  /** Both sides clustered on the equi-keys → co-partitioned exchanges
    * (or none, if the children are already bucketed that way). */
  override def requiredChildDistribution: Seq[Distribution] =
    if (leftKeys.isEmpty) Seq(AllTuples, AllTuples)
    else Seq(ClusteredDistribution(leftKeys), ClusteredDistribution(rightKeys))

  /** Both sides sorted by (keys…, ts) within partitions — the merge's
    * precondition; satisfied for free by a sortBy-bucketed table. The
    * right side additionally orders by the tie column so that among rows
    * with equal (keys, ts) the merge's last-encountered — i.e. the
    * reference's last-in-table-order — wins. */
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    (leftKeys :+ leftTs).map(SortOrder(_, Ascending)),
    (rightKeys :+ rightTs :+ rightTie).map(SortOrder(_, Ascending)))

  override def outputOrdering: Seq[SortOrder] =
    (leftKeys :+ leftTs).map(SortOrder(_, Ascending))

  /** Rows stay in the left child's partitions (the merge only appends
    * payload), so downstream operators clustered on the same keys reuse
    * the exchange instead of re-shuffling. */
  override def outputPartitioning
      : org.apache.spark.sql.catalyst.plans.physical.Partitioning =
    left.outputPartitioning

  override protected def doExecute(): RDD[InternalRow] = {
    val lOut = left.output
    val rOut = right.output
    val lKeysB = leftKeys
    val rKeysB = rightKeys
    val lTsB = leftTs
    val rTsB = rightTs
    val payloadB = payload
    val keyTypes = leftKeys.map(_.dataType)
    val tsType = leftTs.dataType
    val out = output

    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lKeyProj = UnsafeProjection.create(lKeysB, lOut)
      val rKeyProj = UnsafeProjection.create(rKeysB, rOut)
      val lTsProj = UnsafeProjection.create(Seq(lTsB), lOut)
      val rTsProj = UnsafeProjection.create(Seq(rTsB), rOut)
      val payloadProj = UnsafeProjection.create(payloadB, rOut)
      // bind against the NULLABLE output attrs: a miss emits an all-null
      // payload row, which a non-nullable binding would read as garbage
      val resultProj = UnsafeProjection.create(out, out)
      val keyOrd = RowOrdering.createNaturalAscendingOrdering(keyTypes)
      val tsOrd = RowOrdering.createNaturalAscendingOrdering(Seq(tsType))
      val nullPayload = new GenericInternalRow(payloadB.length)
      val joined = new JoinedRow

      new Iterator[InternalRow] {
        private var rHead: InternalRow = if (rIter.hasNext) rIter.next() else null
        // last right row whose (key, ts) has been passed by the merge
        private var candPayload: UnsafeRow = _
        private var candKey: UnsafeRow = _

        override def hasNext: Boolean = lIter.hasNext

        override def next(): InternalRow = {
          val l = lIter.next()
          val lKey = lKeyProj(l)
          val lTs = lTsProj(l)
          var advance = rHead != null
          while (advance) {
            val rKey = rKeyProj(rHead)
            val kc = keyOrd.compare(rKey, lKey)
            if (kc < 0 || (kc == 0 && tsOrd.compare(rTsProj(rHead), lTs) <= 0)) {
              candPayload = payloadProj(rHead).copy()
              candKey = rKey.copy()
              rHead = if (rIter.hasNext) rIter.next() else null
              advance = rHead != null
            } else advance = false
          }
          if (candKey != null && keyOrd.compare(candKey, lKey) == 0)
            resultProj(joined(l, candPayload))
          else
            resultProj(joined(l, nullPayload))
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsofJoinExec =
    copy(left = newLeft, right = newRight)
}
