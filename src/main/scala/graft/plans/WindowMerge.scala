package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  Ascending, Attribute, AttributeSet, JoinedRow, RowOrdering, SortOrder,
  SpecificInternalRow, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{
  AllTuples, ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan}
import org.apache.spark.sql.types.{DoubleType, IntegerType}
import graft.operators.SlidingWindow

/** One aggregate of a sliding window join: `op` ∈ min|max|sum|count over
  * the node's value column `value` (-1 for count, which reads none). */
final case class SlidingAgg(op: String, value: Int)

/** Sliding window join (`operators.WindowJoin.windowJoinSliding`) as a
  * custom logical node: every left row plus its window's aggregates. The
  * right side carries only keys, a long ts and the aggregated values.
  * The reference's per-key algorithm (`aggr_map_window`,
  * `core/aggr.c:331-373` of the reference) distributed the way
  * [[AsofJoinNode]] distributes the as-of merge. */
case class WindowJoinNode(left: LogicalPlan, right: LogicalPlan,
                          leftKeys: Seq[Attribute], rightKeys: Seq[Attribute],
                          leftTs: Attribute, rightTs: Attribute,
                          values: Seq[Attribute], aggs: Seq[SlidingAgg],
                          aggOutput: Seq[Attribute],
                          lo: Long, hi: Long, jtype: Int) extends BinaryNode {
  override def output: Seq[Attribute] = left.output ++ aggOutput
  override def producedAttributes: AttributeSet = AttributeSet(aggOutput)
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): WindowJoinNode =
    copy(left = newLeft, right = newRight)
}

/** Both children clustered on the keys and sorted by (keys, ts), merged
  * per partition in one pass by [[WindowMerge]]. EnsureRequirements adds
  * the exchanges and sorts only where a child is not already laid out
  * that way: a cached side's keyed copy is an in-memory scan that reports
  * hash partitioning on these keys and this order, so two such children
  * need neither. */
case class WindowJoinExec(left: SparkPlan, right: SparkPlan,
                          leftKeys: Seq[Attribute], rightKeys: Seq[Attribute],
                          leftTs: Attribute, rightTs: Attribute,
                          values: Seq[Attribute], aggs: Seq[SlidingAgg],
                          aggOutput: Seq[Attribute],
                          lo: Long, hi: Long, jtype: Int) extends BinaryExecNode {

  override def output: Seq[Attribute] = left.output ++ aggOutput
  override def producedAttributes: AttributeSet = AttributeSet(aggOutput)

  override def requiredChildDistribution: Seq[Distribution] =
    if (leftKeys.isEmpty) Seq(AllTuples, AllTuples)
    else Seq(ClusteredDistribution(leftKeys), ClusteredDistribution(rightKeys))

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    (leftKeys :+ leftTs).map(SortOrder(_, Ascending)),
    (rightKeys :+ rightTs).map(SortOrder(_, Ascending)))

  /** One output row per left row, in the left child's order and
    * partitions. */
  override def outputOrdering: Seq[SortOrder] =
    (leftKeys :+ leftTs).map(SortOrder(_, Ascending))
  override def outputPartitioning: Partitioning = left.outputPartitioning

  override protected def doExecute(): RDD[InternalRow] = {
    val merge = WindowMerge(left.output, right.output, leftKeys, rightKeys,
      leftTs, rightTs, values, aggs, aggOutput, lo, hi, jtype)
    left.execute().zipPartitions(right.execute())(merge.apply)
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): WindowJoinExec =
    copy(left = newLeft, right = newRight)
}

/** One partition of [[WindowJoinExec]]: both inputs sorted by (keys, ts).
  * The right rows of one key are loaded into the [[SlidingWindow]] kernel
  * as primitive columns, then that key's left rows STREAM through it — a
  * hot key's left side never materializes in the task (SkewSpec pins
  * this). Keys compare by typed ordering. A left row with a null key gets
  * null aggregates; a right row with a null key is skipped. A null ts on
  * either side throws, because an UnsafeRow reads a null long as 0. */
final case class WindowMerge(leftOutput: Seq[Attribute],
                             rightOutput: Seq[Attribute],
                             leftKeys: Seq[Attribute], rightKeys: Seq[Attribute],
                             leftTs: Attribute, rightTs: Attribute,
                             values: Seq[Attribute], aggs: Seq[SlidingAgg],
                             aggOutput: Seq[Attribute],
                             lo: Long, hi: Long, jtype: Int) {

  def apply(lIter: Iterator[InternalRow],
            rIter: Iterator[InternalRow]): Iterator[InternalRow] = {
    def ordinal(out: Seq[Attribute], a: Attribute) =
      out.indexWhere(_.exprId == a.exprId)
    val lTsAt = ordinal(leftOutput, leftTs)
    val lTsInt = leftTs.dataType == IntegerType
    val rTsAt = ordinal(rightOutput, rightTs)
    val rTsInt = rightTs.dataType == IntegerType
    val valueAt = values.map(ordinal(rightOutput, _)).toArray
    val kernel = new SlidingWindow(
      aggs.map(a => Seq("min", "max", "sum", "count").indexOf(a.op)).toArray,
      aggs.map(_.value).toArray,
      values.map(_.dataType match {
        case DoubleType => 2
        case IntegerType => 1
        case _ => 0
      }).toArray, lo, hi, jtype)
    val lKeyProj = UnsafeProjection.create(leftKeys, leftOutput)
    val rKeyProj = UnsafeProjection.create(rightKeys, rightOutput)
    val keyOrd = RowOrdering.createNaturalAscendingOrdering(leftKeys.map(_.dataType))
    // binary equality first: consecutive rows of one key are byte-equal
    def keyCmp(a: UnsafeRow, b: UnsafeRow): Int =
      if (a.equals(b)) 0 else keyOrd.compare(a, b)
    val aggRow = new SpecificInternalRow(aggOutput.map(_.dataType))
    val joined = new JoinedRow
    val out = leftOutput ++ aggOutput
    // bind against the NULLABLE aggregate attrs: an empty window emits nulls
    val result = UnsafeProjection.create(out, out)

    def nullTs(side: String) = new IllegalArgumentException(
      s"windowJoinSliding: null ts in the $side input (${
        if (side == "left") leftTs.name else rightTs.name})")
    def nextRight(): InternalRow =
      if (!rIter.hasNext) null
      else {
        val r = rIter.next()
        if (r.isNullAt(rTsAt)) throw nullTs("right")
        r
      }

    new Iterator[InternalRow] {
      private var rHead = nextRight()
      private var groupKey: UnsafeRow = _ // key whose right rows are loaded

      /** Loads the right rows of `key`, skipping those before it. */
      private def load(key: UnsafeRow): Unit = {
        kernel.clear()
        while (rHead != null && {
          val rk = rKeyProj(rHead); rk.anyNull || keyCmp(rk, key) < 0
        }) rHead = nextRight()
        while (rHead != null && keyCmp(rKeyProj(rHead), key) == 0) {
          kernel.add(if (rTsInt) rHead.getInt(rTsAt) else rHead.getLong(rTsAt),
            rHead, valueAt)
          rHead = nextRight()
        }
        groupKey = key.copy()
      }

      // the rest of the right side is read too, so that a null ts there
      // fails the join whether or not a left key reaches it
      override def hasNext: Boolean = lIter.hasNext || {
        while (rHead != null) rHead = nextRight()
        false
      }

      override def next(): InternalRow = {
        val l = lIter.next()
        if (l.isNullAt(lTsAt)) throw nullTs("left")
        val key = lKeyProj(l)
        if (key.anyNull) {
          var i = 0
          while (i < aggs.length) { aggRow.setNullAt(i); i += 1 }
        } else {
          if (groupKey == null || keyCmp(key, groupKey) != 0) load(key)
          kernel.slide(if (lTsInt) l.getInt(lTsAt) else l.getLong(lTsAt))
          kernel.write(aggRow)
        }
        result(joined(l, aggRow))
      }
    }
  }
}
