package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  Attribute, CollationKey, Expression, GenericInternalRow, JoinedRow,
  UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.{Inner, JoinType, LeftOuter}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{
  ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.catalyst.util.UnsafeRowUtils
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan}
import org.apache.spark.sql.graftshim.ColumnInternals
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.array.ByteArrayMethods

/** Equi-join of `left` and `right` on `leftKeys(i) = rightKeys(i)`, inner
  * or left outer: the distributed form of the reference's `inner-join` /
  * `left-join`, which build an open-addressing table over the right
  * side's keys and probe it with the left rows (`core/index.c:2886-3010`
  * of the reference).
  *
  * The keys are the two sides of already-analyzed equalities, so they
  * carry Catalyst's type coercions (an int key against a long one is a
  * cast). A null key matches nothing. Output row order is unspecified.
  * Unlike Catalyst's `Join`, the optimizer pushes no filter written above
  * this node below it, and infers no constraint through it.
  *
  * `operators.Joins` puts a cached side in as its keyed copy: the cached
  * rows repartitioned by hash on that side's [[HashJoinNode.comparable]]
  * keys and cached beside the source (at most one such copy per cached
  * source, dropped with it), so the planner finds the side already
  * clustered as [[HashJoinExec]] requires.
  */
case class HashJoinNode(left: LogicalPlan, right: LogicalPlan,
                        leftKeys: Seq[Expression], rightKeys: Seq[Expression],
                        joinType: JoinType) extends BinaryNode {
  require(joinType == Inner || joinType == LeftOuter,
    s"HashJoinNode joins inner or left outer, not $joinType")
  require(leftKeys.nonEmpty && leftKeys.length == rightKeys.length,
    s"HashJoinNode needs matching non-empty key lists, got " +
      s"${leftKeys.length} and ${rightKeys.length}")

  override def output: Seq[Attribute] = HashJoinNode.output(left.output,
    right.output, joinType)
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): HashJoinNode =
    copy(left = newLeft, right = newRight)
}

object HashJoinNode {
  /** The right columns turn nullable on a left join: a miss pads them. */
  def output(l: Seq[Attribute], r: Seq[Attribute],
             joinType: JoinType): Seq[Attribute] =
    if (joinType == LeftOuter) l ++ r.map(_.withNullability(true)) else l ++ r

  /** A key as the table compares it: floating values normalized (-0.0 is
    * 0.0, every NaN one NaN) as Catalyst normalizes join keys, and a
    * string under a non-binary collation replaced by its collation key.
    * Any other key must compare by its bytes. */
  def comparable(key: Expression): Expression = {
    val k = ColumnInternals.normalizeFloats(key)
    k.dataType match {
      case s: StringType if !UnsafeRowUtils.isBinaryStable(s) => CollationKey(k)
      case dt =>
        require(UnsafeRowUtils.isBinaryStable(dt),
          s"hash join key $key of type $dt does not compare by its bytes")
        k
    }
  }
}

/** Plans [[HashJoinNode]]: both children clustered on their keys, so
  * EnsureRequirements adds co-partitioned exchanges, or none where a
  * child is already laid out that way: a keyed copy of a cached side is
  * an in-memory scan that reports its hash partitioning on exactly these
  * keys, and two such children need no exchange at all. Each partition
  * loads its right rows into a [[HashJoinTable]] and streams its left
  * rows through it. */
case class HashJoinExec(left: SparkPlan, right: SparkPlan,
                        leftKeys: Seq[Expression], rightKeys: Seq[Expression],
                        joinType: JoinType) extends BinaryExecNode {

  override def output: Seq[Attribute] = HashJoinNode.output(left.output,
    right.output, joinType)

  override def requiredChildDistribution: Seq[Distribution] =
    Seq(ClusteredDistribution(leftKeys), ClusteredDistribution(rightKeys))

  /** Output rows stay in the left child's partitions. */
  override def outputPartitioning: Partitioning = left.outputPartitioning

  override protected def doExecute(): RDD[InternalRow] = {
    val lOut = left.output
    val rOut = right.output
    val lKeys = leftKeys
    val rKeys = rightKeys
    val outer = joinType == LeftOuter
    val out = output
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val table = HashJoinTable(rIter, UnsafeProjection.create(rKeys, rOut))
      val lKeyProj = UnsafeProjection.create(lKeys, lOut)
      // bound to the output attributes: on a left join those are nullable,
      // so the null padding of a miss reads as nulls
      val resultProj = UnsafeProjection.create(out, out)
      val joined = new JoinedRow
      val rRow = new UnsafeRow(rOut.length)
      val nullRow = new GenericInternalRow(rOut.length)

      new Iterator[InternalRow] {
        // the left row being joined and its next matching right row
        private var cur: InternalRow = _
        private var m = -1
        private var ready: InternalRow = _

        override def hasNext: Boolean = {
          if (ready == null) ready = fetch()
          ready != null
        }

        override def next(): InternalRow = {
          if (!hasNext) throw new NoSuchElementException
          val r = ready
          ready = null
          r
        }

        private def fetch(): InternalRow = {
          while (true) {
            if (m >= 0) {
              table.pointTo(m, rRow)
              m = table.nextMatch(m)
              return resultProj(joined(cur, rRow))
            }
            if (!lIter.hasNext) return null
            cur = lIter.next()
            m = table.firstMatch(lKeyProj(cur))
            if (m < 0 && outer) return resultProj(joined(cur, nullRow))
          }
          null
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): HashJoinExec =
    copy(left = newLeft, right = newRight)
}

/** The right rows of one partition by key, for [[HashJoinExec]].
  *
  * Row and key bytes are copied into a few large pages; a row is its
  * page address and length, a distinct key its address, length, hash
  * and first and last row, and the rows of one key chain through
  * `next` in input order. Keys are found by open addressing (linear
  * probing over a power-of-two table at most half full) on the key
  * row's hash and compared by their bytes. Rows whose key has a null
  * are dropped: they match nothing. The table lives on the task's heap,
  * outside Spark's memory manager, so one partition's right rows must
  * fit there (as a hot key's rows must in [[WindowJoinExec]]). */
final class HashJoinTable private () {
  private var pages = new Array[Array[Byte]](4)
  private var nPages = 0
  private var page: Array[Byte] = _
  private var pos = 0

  private var rowAddr = new Array[Long](64)
  private var rowLen = new Array[Int](64)
  private var next = new Array[Int](64)
  private var nRows = 0

  private var keyAddr = new Array[Long](64)
  private var keyLen = new Array[Int](64)
  private var keyHash = new Array[Int](64)
  private var first = new Array[Int](64)
  private var last = new Array[Int](64)
  private var keys = 0

  // slot → key index + 1 (0 = empty)
  private var slots = new Array[Int](128)
  private var shift = 32 - 7

  /** Copies `r`'s bytes into the pages; returns their address (page
    * index in the high half, offset in the low). Pages double from 64 KB
    * to 16 MB, and a larger row gets a page of its own size. */
  private def store(r: UnsafeRow): Long = {
    val n = r.getSizeInBytes
    if (page == null || page.length - pos < n) {
      val size = if (page == null) 1 << 16 else math.min(page.length * 2, 1 << 24)
      page = new Array[Byte](math.max(size, n))
      if (nPages == pages.length) pages = java.util.Arrays.copyOf(pages, nPages * 2)
      pages(nPages) = page
      nPages += 1
      pos = 0
    }
    r.writeToMemory(page, Platform.BYTE_ARRAY_OFFSET + pos)
    val addr = (nPages - 1).toLong << 32 | pos
    pos += n
    addr
  }

  private def pageOf(addr: Long): Array[Byte] = pages((addr >>> 32).toInt)
  private def offsetOf(addr: Long): Long =
    Platform.BYTE_ARRAY_OFFSET + (addr & 0xffffffffL)

  // the slot a hash starts probing at: Fibonacci hashing, so the low bits
  // the exchange partitioned on do not pile this partition's keys up
  private def home(h: Int): Int = (h * 0x9E3779B9) >>> shift

  /** The index of `key`'s entry, or -1 when there is none. */
  private def find(key: UnsafeRow, h: Int): Int = {
    val mask = slots.length - 1
    val n = key.getSizeInBytes
    var s = home(h)
    while (slots(s) != 0) {
      val k = slots(s) - 1
      if (keyHash(k) == h && keyLen(k) == n &&
        ByteArrayMethods.arrayEquals(key.getBaseObject, key.getBaseOffset,
          pageOf(keyAddr(k)), offsetOf(keyAddr(k)), n)) return k
      s = (s + 1) & mask
    }
    -1
  }

  private def add(key: UnsafeRow, h: Int): Int = {
    if (keys == keyHash.length) {
      val c = keys * 2
      keyAddr = java.util.Arrays.copyOf(keyAddr, c)
      keyLen = java.util.Arrays.copyOf(keyLen, c)
      keyHash = java.util.Arrays.copyOf(keyHash, c)
      first = java.util.Arrays.copyOf(first, c)
      last = java.util.Arrays.copyOf(last, c)
    }
    if (2 * (keys + 1) > slots.length) {
      slots = new Array[Int](slots.length * 2)
      shift -= 1
      var k = 0
      while (k < keys) { place(k); k += 1 }
    }
    val k = keys
    keyAddr(k) = store(key)
    keyLen(k) = key.getSizeInBytes
    keyHash(k) = h
    first(k) = -1
    keys += 1
    place(k)
    k
  }

  private def place(k: Int): Unit = {
    val mask = slots.length - 1
    var s = home(keyHash(k))
    while (slots(s) != 0) s = (s + 1) & mask
    slots(s) = k + 1
  }

  private def insert(row: UnsafeRow, key: UnsafeRow): Unit = {
    val h = key.hashCode
    var k = find(key, h)
    if (k < 0) k = add(key, h)
    if (nRows == rowAddr.length) {
      val c = nRows * 2
      rowAddr = java.util.Arrays.copyOf(rowAddr, c)
      rowLen = java.util.Arrays.copyOf(rowLen, c)
      next = java.util.Arrays.copyOf(next, c)
    }
    val i = nRows
    rowAddr(i) = store(row)
    rowLen(i) = row.getSizeInBytes
    next(i) = -1
    if (first(k) < 0) first(k) = i else next(last(k)) = i
    last(k) = i
    nRows += 1
  }

  /** The first right row whose key equals `key`, or -1 when none does
    * (always for a key with a null). */
  def firstMatch(key: UnsafeRow): Int =
    if (key.anyNull) -1
    else {
      val k = find(key, key.hashCode)
      if (k < 0) -1 else first(k)
    }

  /** The right row after `i` with the same key, or -1. */
  def nextMatch(i: Int): Int = next(i)

  /** Points `row` at right row `i`'s bytes. */
  def pointTo(i: Int, row: UnsafeRow): Unit =
    row.pointTo(pageOf(rowAddr(i)), offsetOf(rowAddr(i)), rowLen(i))
}

object HashJoinTable {
  /** Loads `rows` (UnsafeRows, as every physical operator emits them and
    * Spark's own hashed relations assume), keyed by `keyProj`. */
  def apply(rows: Iterator[InternalRow], keyProj: UnsafeProjection)
      : HashJoinTable = {
    val t = new HashJoinTable
    rows.foreach { r =>
      val key = keyProj(r)
      if (!key.anyNull) t.insert(r.asInstanceOf[UnsafeRow], key)
    }
    t
  }
}
