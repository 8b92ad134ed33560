package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCoercion
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ColumnInternals
import org.apache.spark.sql.types._

/** Window (interval) join: for each left row, aggregate the right rows
  * with the same keys whose time lies in the row's window
  * (reference `window-join`/`window-join1`,
  * `/root/reference/core/join.c:358-489`, `core/index.c:3287-3346`).
  *
  * Window semantics follow the reference's aggregation kernel
  * (`core/aggr.c:39-68,133-158`), which are the kdb `wj`/`wj1` rules:
  *  - jtype 0 (`window-join`): rows in `(lo, hi]` PLUS the PREVAILING
  *    row — the last right row with `ts <= lo` (`li = indexr_bin(lo)`,
  *    `ri = indexr_bin(hi)`, aggregate `li..ri`; empty iff
  *    `ts[li] > hi`).
  *  - jtype 1 (`window-join1`): rows in `[lo, hi]` inclusive
  *    (`li = indexl_bin(lo)`).
  *
  * Spark-first plan: an equi-join on the keys with the range predicate as
  * a join condition (hash-join on keys, range filter inside), then a
  * groupBy on the left row identity, then a left join back so left rows
  * with no right rows in range survive with NULL aggregates — matching
  * the reference, which emits every left row. For jtype 0 the prevailing
  * pairs come from the as-of machinery (left time = window start), then
  * union with the in-window pairs — the two sets are disjoint because a
  * prevailing row has `ts <= lo` and in-window rows have `ts > lo`.
  *
  * Scale notes: the equi-keys carry the shuffle, so this is a standard
  * shuffled hash/sort-merge join — no broadcast needed. If a single key's
  * interval fans out too wide (hot key × wide window), bucket time into
  * coarse chunks and join on (key, chunk) to bound the fan-out.
  */
object WindowJoin {

  /** @param leftId   column(s) uniquely identifying a left row
    * @param keys     equi-join keys in both sides
    * @param ts       time column name in both sides (numeric or timestamp)
    * @param loOffset lower bound offset (added to left ts; may be negative)
    * @param hiOffset upper bound offset
    * @param aggs     aggregates over right columns, pre-aliased
    * @param jtype    0 = `window-join` (prevailing row + `(lo, hi]`),
    *                 1 = `window-join1` (inclusive `[lo, hi]`)
    */
  def windowJoin(left: DataFrame, right: DataFrame, leftId: Seq[String],
                 keys: Seq[String], ts: String, loOffset: Column, hiOffset: Column,
                 aggs: Seq[Column], jtype: Int = 1): DataFrame = {
    require(jtype == 0 || jtype == 1, s"jtype must be 0 or 1, got $jtype")
    val l = left.select(left.columns.map(c => col(c).as(s"l_$c")).toSeq: _*)
    val keyCond = keys.map(k => col(s"l_$k") === col(k)).reduce(_ && _)
    val lo = col(s"l_$ts") + loOffset
    val hi = col(s"l_$ts") + hiOffset
    val lIds = leftId.map(c => s"l_$c")

    val pairs =
      if (jtype == 1)
        l.join(right, keyCond && col(ts) >= lo && col(ts) <= hi, "inner")
      else {
        val inWin = l.join(right, keyCond && col(ts) > lo && col(ts) <= hi,
          "inner")
        // prevailing row per left row: as-of join at the window start.
        // __wjhit distinguishes a real match (whose payload may be null)
        // from a miss; among right rows tied on ts the asof tie rule
        // (last in table order) picks the one the reference's
        // indexr_bin lands on. The as-of window groups null keys
        // together, so left rows with a null key stay out of it: a null
        // key matches nothing, as in the equi-join above.
        val rightPlus = right.withColumn("__wjhit", lit(1L))
        val payload =
          right.columns.filterNot(keys.contains).toSeq :+ "__wjhit"
        val asofLeft = l
          .filter(keys.map(k => col(s"l_$k").isNotNull).reduce(_ && _))
          .select(lIds.map(col) ++ keys.map(k => col(s"l_$k").as(k)) :+
            lo.as(ts): _*)
        val prev = AsofJoin.asofJoin(asofLeft, rightPlus, keys, ts, payload)
          .filter(col("__wjhit").isNotNull)
        val common = (lIds ++ keys ++
          right.columns.filterNot(keys.contains)).distinct
        inWin.select(common.map(col): _*)
          .unionByName(prev.select(common.map(col): _*))
      }

    val grouped = pairs
      .groupBy(lIds.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)

    val idCond = leftId.map(c => left(c) === grouped(s"l_$c")).reduce(_ && _)
    left.join(grouped, idCond, "left")
      .drop(leftId.map(c => s"l_$c"): _*)
  }

  /** One supported sliding aggregate: op ∈ min|max|sum|count. min, max
    * and sum read a numeric right column (LongType, IntegerType or
    * DoubleType); count counts window rows and reads no column. */
  final case class Agg(op: String, col: String, as: String)

  /** Whether the sliding kernel computes `op` over a right column of
    * type `t`; the generic [[windowJoin]] takes every other aggregate. */
  def slidingSupports(op: String, t: DataType): Boolean = op match {
    case "count" => true
    case "min" | "max" | "sum" => t == LongType || t == IntegerType || t == DoubleType
    case _ => false
  }

  /** SLIDING window join — the reference's own algorithm
    * (`aggr_map_window`, `/root/reference/core/aggr.c:331-373`): per key,
    * both sides sorted by ts, a two-pointer window advances monotonically
    * and min/max maintain monotonic deques, so the cost is O(n+m) per key
    * with NO fan-out materialization. The generic [[windowJoin]] builds
    * every (left, right-in-window) pair first, which explodes when
    * windows are wide relative to event spacing (the reference's 1e7
    * window-join benchmark has ~10k quotes per window: 1e11 pairs).
    *
    * Scale shape: one merge exec (`plans.WindowJoinExec`) whose children
    * are clustered on the keys and sorted by (keys, ts), so the planner
    * shuffles and sorts each side once — or not at all when a side is
    * already bucketed that way. A partition is read in one pass over
    * `InternalRow`s: one key's right rows are held as primitive columns
    * while that key's left rows stream through the kernel. A hot key is
    * processed by one task, linearly — the reference's per-key contract.
    * Building the DataFrame starts no job. jtype 1 (`window-join1`, the
    * default) aggregates inclusive `[lo, hi]`; jtype 0 (`window-join`)
    * adds the prevailing row — the last right row with ts <= lo
    * (`core/aggr.c:143-151`).
    *
    * Keys match by typed equality, as in [[windowJoin]]: where the two
    * sides' types of a key differ, both are cast to their wider common
    * type (string when there is none). A left row with a null key matches
    * nothing and gets null aggregates; right rows with a null key are
    * ignored. A null ts on either side throws `IllegalArgumentException`.
    */
  def windowJoinSliding(left: DataFrame, right: DataFrame,
                        keys: Seq[String], ts: String,
                        loOffset: Long, hiOffset: Long,
                        aggs: Seq[Agg], jtype: Int = 1): DataFrame = {
    require(jtype == 0 || jtype == 1, s"jtype must be 0 or 1, got $jtype")
    // integral time axes only: a TimestampType would read as seconds on
    // one side (cast long) and millis on the other (getTime) — reject
    // rather than silently mis-join (this engine carries time as long
    // nanos/millis per the repo convention)
    for ((df, side) <- Seq((left, "left"), (right, "right")))
      require(Seq(LongType, IntegerType).contains(df.schema(ts).dataType),
        s"windowJoinSliding needs an integral $side ts column, got " +
          s"${df.schema(ts).dataType}")
    for (a <- aggs)
      require(slidingSupports(a.op, right.schema(a.col).dataType),
        s"windowJoinSliding cannot compute ${a.op} over ${a.col}: " +
          s"${right.schema(a.col).dataType}")
    val spark = left.sparkSession
    graft.plans.AsofJoinStrategy.install(spark)

    val keyTypes = keys.map { k =>
      val (lt, rt) = (left.schema(k).dataType, right.schema(k).dataType)
      if (lt == rt) lt
      else TypeCoercion.findWiderTypeForTwo(lt, rt).getOrElse(StringType)
    }
    // a left key whose type is not the common one joins through a cast
    // copy, so the left columns themselves come out unchanged
    val lKeys = keys.indices.map(i =>
      if (left.schema(keys(i)).dataType == keyTypes(i)) keys(i) else s"__lk$i")
    val lPre = keys.indices.filter(i => lKeys(i) != keys(i)).foldLeft(left)(
      (df, i) => df.withColumn(lKeys(i), col(keys(i)).cast(keyTypes(i))))
    // every right column is aliased (fresh exprIds): a custom binary node
    // gets no DeduplicateRelations, so a self-join would otherwise carry
    // the same attribute ids on both children
    val values = aggs.filter(_.op != "count").map(_.col).distinct
    val rPre = right.select(
      keys.indices.map(i => col(keys(i)).cast(keyTypes(i)).as(s"__rk$i")) ++
        (col(ts).cast("long").as("__rts") +:
          values.indices.map(j => col(values(j)).as(s"__rv$j"))): _*)

    val lPlan = ColumnInternals.analyzed(lPre)
    val rPlan = ColumnInternals.analyzed(rPre)
    def attr(p: LogicalPlan, n: String) = p.output.find(_.name == n).getOrElse(
      throw new IllegalArgumentException(s"missing column $n"))
    val aggOutput = aggs.map { a =>
      val src = right.schema(a.col).dataType
      val t = a.op match {
        case "count" => LongType
        case "sum" => if (src == DoubleType) DoubleType else LongType
        case _ => src
      }
      AttributeReference(a.as, t, nullable = true)()
    }
    val node = graft.plans.WindowJoinNode(lPlan, rPlan,
      lKeys.map(attr(lPlan, _)), keys.indices.map(i => attr(rPlan, s"__rk$i")),
      attr(lPlan, ts), attr(rPlan, "__rts"),
      values.indices.map(j => attr(rPlan, s"__rv$j")),
      aggs.map(a => graft.plans.SlidingAgg(a.op, values.indexOf(a.col))),
      aggOutput, loOffset, hiOffset, jtype)
    val joined = ColumnInternals.ofRows(spark, node)
    if (lPre eq left) joined
    else joined.select((left.columns.toSeq ++ aggs.map(_.as)).map(col): _*)
  }
}

/** Growable primitive column of ONE right-side value column for the
  * current key: kind 0 = long, 1 = int (carried as long), 2 = double.
  * Nulls ride a parallel boolean array. A hot key of 2e7 quotes holds
  * ~9 bytes/column/row here instead of a boxed row. */
private[graft] final class ColVec(val kind: Int) {
  private var ls = new Array[Long](if (kind == 2) 0 else 16)
  private var ds = new Array[Double](if (kind == 2) 16 else 0)
  private var nulls = new Array[Boolean](16)
  private var size = 0

  def clear(): Unit = size = 0

  def add(row: InternalRow, ordinal: Int): Unit = {
    if (size == nulls.length) {
      val cap = size * 2
      nulls = java.util.Arrays.copyOf(nulls, cap)
      if (kind == 2) ds = java.util.Arrays.copyOf(ds, cap)
      else ls = java.util.Arrays.copyOf(ls, cap)
    }
    val isNull = row.isNullAt(ordinal)
    nulls(size) = isNull
    if (!isNull) kind match {
      case 2 => ds(size) = row.getDouble(ordinal)
      case 1 => ls(size) = row.getInt(ordinal)
      case _ => ls(size) = row.getLong(ordinal)
    }
    size += 1
  }

  def isNull(i: Int): Boolean = nulls(i)
  def long(i: Int): Long = ls(i)
  def double(i: Int): Double = ds(i)
  def cmp(a: Int, b: Int): Int =
    if (kind == 2) java.lang.Double.compare(ds(a), ds(b))
    else java.lang.Long.compare(ls(a), ls(b))

  /** Writes value `i` into field `o` of `out`, in the column's own type. */
  def write(out: InternalRow, o: Int, i: Int): Unit = kind match {
    case 2 => out.setDouble(o, ds(i))
    case 1 => out.setInt(o, ls(i).toInt)
    case _ => out.setLong(o, ls(i))
  }
}

/** Deque of right-row indices over a growable int array. */
private final class IntDeque {
  private var xs = new Array[Int](16)
  private var head = 0
  private var tail = 0
  def clear(): Unit = { head = 0; tail = 0 }
  def isEmpty: Boolean = head == tail
  def first: Int = xs(head)
  def last: Int = xs(tail - 1)
  def addLast(i: Int): Unit = {
    if (tail == xs.length) xs = java.util.Arrays.copyOf(xs, tail * 2)
    xs(tail) = i; tail += 1
  }
  def pollFirst(): Unit = head += 1
  def pollLast(): Unit = tail -= 1
}

/** The per-key two-pointer sliding aggregation over ONE key's right
  * rows, held as primitive columns. min/max use monotonic deques
  * (amortized O(1) per step); sum/count are incremental. The right rows
  * of a key are added in ts order, then [[slide]] is called with that
  * key's left ts in ascending order.
  *
  * @param ops     per aggregate: 0 = min, 1 = max, 2 = sum, 3 = count
  * @param valueOf per aggregate: index of its value column, -1 for count
  * @param kinds   per value column: its [[ColVec]] kind
  */
private[graft] final class SlidingWindow(ops: Array[Int], valueOf: Array[Int],
                                         kinds: Array[Int], lo: Long, hi: Long,
                                         jtype: Int) {
  private var ts = new Array[Long](16)
  private var n = 0
  private val cols = kinds.map(new ColVec(_))
  private val deques = ops.map(_ => new IntDeque)
  private val sumL = new Array[Long](ops.length)
  private val sumD = new Array[Double](ops.length)
  private var from = 0 // first right idx inside the window
  private var to = 0   // first right idx beyond the window

  /** Forgets the current key's rows and window. */
  def clear(): Unit = {
    n = 0; from = 0; to = 0
    cols.foreach(_.clear())
    deques.foreach(_.clear())
    java.util.Arrays.fill(sumL, 0L)
    java.util.Arrays.fill(sumD, 0.0)
  }

  /** Appends one right row: its ts and its value columns at `ordinals`. */
  def add(t: Long, row: InternalRow, ordinals: Array[Int]): Unit = {
    if (n == ts.length) ts = java.util.Arrays.copyOf(ts, n * 2)
    ts(n) = t
    n += 1
    var c = 0
    while (c < cols.length) { cols(c).add(row, ordinals(c)); c += 1 }
  }

  /** Moves the window to the left row at `t`. */
  def slide(t: Long): Unit = {
    val wLo = t + lo
    val wHi = t + hi
    // advance `to`: add rows entering the window (null values are
    // skipped for min/max/sum — null-skipping aggregation; count
    // counts every window row, the reference's unconditional count)
    while (to < n && ts(to) <= wHi) {
      var ai = 0
      while (ai < ops.length) {
        val op = ops(ai)
        if (op != 3) {
          val c = cols(valueOf(ai))
          if (!c.isNull(to)) op match {
            case 2 =>
              if (c.kind == 2) sumD(ai) += c.double(to) else sumL(ai) += c.long(to)
            case _ =>
              // drop the tail while the new value is better-or-equal
              val dq = deques(ai)
              while (!dq.isEmpty && {
                val d = c.cmp(to, dq.last); if (op == 0) d <= 0 else d >= 0
              }) dq.pollLast()
              dq.addLast(to)
          }
        }
        ai += 1
      }
      to += 1
    }
    // advance `from`: drop rows leaving the window. jtype 1 keeps
    // rows with ts >= lo; jtype 0 additionally keeps the PREVAILING
    // row — the last row with ts <= lo (it is dropped only when a
    // later row is still at-or-before lo), mirroring the reference's
    // li = indexr_bin(lo) lower index (core/aggr.c:143-151).
    while (from < to &&
        (if (jtype == 0) from + 1 < to && ts(from + 1) <= wLo
         else ts(from) < wLo)) {
      var ai = 0
      while (ai < ops.length) {
        val op = ops(ai)
        if (op != 3) {
          val c = cols(valueOf(ai))
          if (!c.isNull(from)) op match {
            case 2 =>
              if (c.kind == 2) sumD(ai) -= c.double(from) else sumL(ai) -= c.long(from)
            case _ =>
              val dq = deques(ai)
              if (!dq.isEmpty && dq.first == from) dq.pollFirst()
          }
        }
        ai += 1
      }
      from += 1
    }
  }

  /** Writes the window's aggregates into fields 0.. of `out`: all null
    * for an empty window, min/max null when every value in it is null. */
  def write(out: InternalRow): Unit = {
    var ai = 0
    while (ai < ops.length) {
      if (from >= to) out.setNullAt(ai)
      else ops(ai) match {
        case 3 => out.setLong(ai, to - from)
        case 2 =>
          if (cols(valueOf(ai)).kind == 2) out.setDouble(ai, sumD(ai))
          else out.setLong(ai, sumL(ai))
        case _ =>
          val dq = deques(ai)
          if (dq.isEmpty) out.setNullAt(ai)
          else cols(valueOf(ai)).write(out, ai, dq.first)
      }
      ai += 1
    }
  }
}
