package graft.operators

import java.util.IdentityHashMap

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{approx_count_distinct, col, collect_set, count, lit}
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

/** Dictionary-encoded group-by kernel.
  *
  * The reference's group-by benchmark speed (group-by.md Q1 = 60 ms at 1e7)
  * comes from its columnar layout: SYMBOL columns are interned to small
  * integer ids at load time (`/root/reference/core/symbols.c`), so a
  * `(select {v1: (sum v1) by: id1})` is a single pass of
  * `acc[code[i]] += v1[i]` over primitive arrays — no per-row hashing at
  * all. Spark's row-based HashAggregate pays ~400-700 ns/row on the same
  * query (measured: the partial-agg stage alone is 4-10 s of CPU at 1e7),
  * which is the whole 5-7× gap on the sub-second H2O queries.
  *
  * This kernel re-creates that architecture Spark-natively: every group
  * key is dictionary-encoded (global dict, built once at load — the
  * analog of the reference's typed `(csv [SYMBOL …])` load), so a row's
  * keys form one mixed-radix composite code. Tables are encoded ONCE into
  * one columnar block per partition (primitive arrays, like
  * operators.WindowJoin's ColVec); a query is then one map stage
  * computing per-partition partial aggregates (the map-side combine Spark
  * would do, minus the row hashing), a merge of the partials, and a
  * decode of occupied slots into InternalRows.
  *
  * A slot is where a composite code accumulates. When the key product
  * fits `MaxDense` the code IS the slot (dense arrays over the whole key
  * space). Past that cap — H2O Q7's six keys, about one group per row —
  * each task maps its codes to slots 0, 1, 2, … through an
  * open-addressing [[SlotMap]] sized to the task's row count; its
  * partials carry only occupied slots plus their codes, split into
  * chunks by a hash of the code and merged on the executors. Both run the
  * same accumulate loops; the hashed branch exists only so the arrays
  * stay O(rows) when the key space is not. Per task it holds at most
  * 16-24 B per row for the slot map and its codes, plus 8 B per row for
  * the counts and for each accumulator (the merge task: the same per
  * occupied slot it receives), besides the 12-16 B per row of pass-1
  * work arrays both branches use. Anything the kernel can't prove it handles
  * (takes, unsupported aggs or predicates, a key product whose composite
  * code overflows a Long, un-encoded tables) returns None and the caller
  * falls back to the regular Catalyst plan.
  *
  * At 100 TB the same shape holds: global dictionaries exist only for
  * low-cardinality key columns (broadcast-sized by construction), dense
  * partials are O(key-product) per partition regardless of row count,
  * hashed ones O(partition rows), and the merge traffic is bounded by
  * partials × occupied slots.
  */
// Serializable: task closures call its helpers (SlotMap probe, chunkOf,
// the accumulate loops); a module serializes as a proxy, not its fields
object GroupKernel extends Serializable {

  /** Dense key-product cap: up to this a composite code is its own slot;
    * above it the dense arrays stop fitting in cache, so codes map to
    * slots through a per-task [[SlotMap]]. */
  val MaxDense: Int = 1 << 20

  /** Whether a (key-product, source-partitions) pair may merge on the
    * DRIVER instead of the executor chunk merge. Both bounds are
    * load-bearing and protect different sides:
    *  - p ≤ 2^14 bounds the DECODED result the driver path ships in a
    *    single task closure (a 1e5-group query sneaking through on a
    *    low-partition scan re-opens the round-7 LocalRelation trap:
    *    ~40 ms of closure deserialization per query);
    *  - p·partitions ≤ 2^21 bounds the partials COLLECT (a
    *    1000-executor scan with 100k partitions must not fan GBs of
    *    partials into the driver). */
  private[graft] def driverMergeEligible(p: Int, partitions: Int): Boolean =
    p <= (1 << 14) &&
      p.toLong * partitions <= (1L << 12) * 512 &&
      partitions <= 512

  /** One columnar block per partition: name → Array[Int] (dict codes),
    * Array[Long] (integral values) or Array[Double] (floating values). */
  type Block = Map[String, AnyRef]

  final class Encoded(
      val dicts: Map[String, Array[Any]],
      val keyTypes: Map[String, DataType],
      val longCols: Set[String],
      val dblCols: Set[String],
      val intSourced: Set[String],
      val nullCols: Set[String],
      val blocks: RDD[Block],
      // decode dictionaries (strings pre-converted to UTF8String) as a
      // BROADCAST: a big-cardinality key's dictionary (the H2O id3 case,
      // 1e5 entries) must not travel in the merge stage's task closure —
      // closure deserialization re-built those 1e5 objects in EVERY task
      // of EVERY query (measured 120-150 ms per merge task before JIT
      // warm-up, the bulk of the Q3/Q5/Q6 per-rep variance). A broadcast
      // deserializes once per executor and is shared from then on.
      val bcDecode: org.apache.spark.broadcast.Broadcast[Map[String, Array[Any]]])

  private val registry = new IdentityHashMap[DataFrame, Encoded]()

  def has(df: DataFrame): Boolean = registry.synchronized(registry.containsKey(df))

  def unregister(df: DataFrame): Unit = registry.synchronized {
    Option(registry.remove(df)).foreach { e =>
      e.blocks.unpersist(blocking = false)
      e.bcDecode.destroy()
    }
  }

  /** Encode `df` for kernel group-bys on `keyCols` (the typed-load step —
    * run once, outside query timing). Key columns with more than
    * `MaxDense` distinct values, or with nulls, are silently skipped
    * (group-bys on them fall back to the Catalyst plan). */
  def encode(df: DataFrame, keyCols: Seq[String]): Unit = {
    val sc = df.sparkSession.sparkContext
    val fields = df.schema.fields.toSeq
    val typeOf = fields.map(f => f.name -> f.dataType).toMap

    // dictionary build in TWO jobs regardless of key count: one stats
    // pass (row count + per-key approx cardinality + null count) to pick
    // the dictionary-worthy keys, then one collect_set pass for the
    // survivors — instead of a distinct().collect() job per key column
    val candidates = keyCols.filter(k => typeOf.get(k).exists {
      case StringType | IntegerType | LongType | BooleanType => true
      case _ => false
    })
    // null-bearing VALUE columns are excluded from the encodable set:
    // the dense accumulate loops have no null slots (sum/min/max/avg over
    // them would silently treat null as 0 / let a phantom value compete,
    // and the kernel's count is a row count while Catalyst's count(col)
    // null-skips — reference and Spark both null-skip, core/ops.h:139-204),
    // so a query aggregating such a column must fall back to Catalyst.
    var nullValueCols: Set[String] = Set.empty
    val allNames = fields.map(_.name)
    val dicts: Map[String, Array[Any]] = if (candidates.isEmpty) Map.empty
    else {
      val statAggs = count(lit(1)).as("__n") +: (candidates.flatMap(k =>
        Seq(approx_count_distinct(col(k)).as(s"a_$k"),
          count(col(k)).as(s"c_$k"))) ++
        allNames.map(k => count(col(k)).as(s"v_$k")))
      val stats = df.agg(statAggs.head, statAggs.tail: _*).head()
      val total = stats.getAs[Long]("__n")
      nullValueCols = allNames.filter(k =>
        stats.getAs[Long](s"v_$k") != total).toSet
      val survivors = candidates.filter { k =>
        // 10% approx margin; the exact size is re-checked after collect
        stats.getAs[Long](s"a_$k") <= MaxDense.toLong * 11 / 10 &&
          stats.getAs[Long](s"c_$k") == total // nulls disqualify a key
      }
      if (survivors.isEmpty) Map.empty
      else {
        val setAggs = survivors.map(k => collect_set(col(k)).as(k))
        val sets = df.agg(setAggs.head, setAggs.tail: _*).head()
        survivors.flatMap { k =>
          val vs = sets.getSeq[Any](sets.fieldIndex(k)).toArray
          if (vs.length > MaxDense) None
          else Some(k -> (typeOf(k) match {
            case StringType => vs.map(_.asInstanceOf[String]).sorted.toArray[Any]
            case IntegerType => vs.map(_.asInstanceOf[Int]).sorted.toArray[Any]
            case LongType => vs.map(_.asInstanceOf[Long]).sorted.toArray[Any]
            case _ => vs.sortBy(_.toString)
          }))
        }.toMap
      }
    }

    val longCols = fields.collect {
      case f if (f.dataType == IntegerType || f.dataType == LongType) &&
        !nullValueCols(f.name) => f.name
    }.toSet
    val dblCols = fields.collect {
      case f if (f.dataType == DoubleType || f.dataType == FloatType) &&
        !nullValueCols(f.name) => f.name
    }.toSet
    val intSourced = fields.collect {
      case f if f.dataType == IntegerType => f.name
    }.toSet

    // per-column encoder index maps, broadcast once. String dicts are
    // keyed by UTF8String so the encode loop can probe with the scan's
    // zero-copy getUTF8String pointer — no per-row String allocation.
    val codeMaps: Map[String, java.util.HashMap[Any, Integer]] = dicts.map {
      case (k, vs) =>
        val m = new java.util.HashMap[Any, Integer](vs.length * 2)
        vs.zipWithIndex.foreach {
          case (v: String, i) =>
            m.put(org.apache.spark.unsafe.types.UTF8String.fromString(v), i)
          case (v, i) => m.put(v, i)
        }
        k -> m
    }
    val bcCodes = sc.broadcast(codeMaps)
    val names = fields.map(_.name).toArray
    val types = fields.map(_.dataType).toArray
    val wantCode = dicts.keySet
    val wantLong = longCols
    val wantDbl = dblCols

    // encode straight off InternalRows (the codegen'd scan output):
    // primitive getters, growable primitive builders, one pass — keeps
    // the load step off the Row-encoder path entirely
    val blocks: RDD[Block] = df.queryExecution.toRdd.mapPartitions { it =>
      val nCols = names.length
      val codeB = Array.tabulate(nCols)(ci =>
        if (wantCode(names(ci))) new scala.collection.mutable.ArrayBuilder.ofInt
        else null)
      val longB = Array.tabulate(nCols)(ci =>
        if (wantLong(names(ci))) new scala.collection.mutable.ArrayBuilder.ofLong
        else null)
      val dblB = Array.tabulate(nCols)(ci =>
        if (wantDbl(names(ci))) new scala.collection.mutable.ArrayBuilder.ofDouble
        else null)
      val maps = Array.tabulate(nCols)(ci =>
        if (wantCode(names(ci))) bcCodes.value(names(ci)) else null)
      var any = false
      while (it.hasNext) {
        val row = it.next()
        any = true
        var ci = 0
        while (ci < nCols) {
          if (codeB(ci) != null) {
            val key: Any = types(ci) match {
              case StringType => row.getUTF8String(ci)
              case IntegerType => Int.box(row.getInt(ci))
              case LongType => Long.box(row.getLong(ci))
              case BooleanType => Boolean.box(row.getBoolean(ci))
            }
            val code = maps(ci).get(key)
            if (code == null) throw new IllegalStateException(
              s"GroupKernel.encode: value $key of column ${names(ci)} not " +
                "in the dictionary — the table changed between the " +
                "dictionary build and the encode pass; cache the " +
                "DataFrame before registering it")
            codeB(ci) += code.intValue()
          }
          if (longB(ci) != null)
            longB(ci) += (if (types(ci) == IntegerType) row.getInt(ci).toLong
                          else row.getLong(ci))
          else if (dblB(ci) != null)
            dblB(ci) += (if (types(ci) == FloatType) row.getFloat(ci).toDouble
                         else row.getDouble(ci))
          ci += 1
        }
      }
      if (!any) Iterator.empty
      else {
        val out = Map.newBuilder[String, AnyRef]
        var ci = 0
        while (ci < nCols) {
          if (codeB(ci) != null) out += s"#${names(ci)}" -> codeB(ci).result()
          if (longB(ci) != null) out += names(ci) -> longB(ci).result()
          else if (dblB(ci) != null) out += names(ci) -> dblB(ci).result()
          ci += 1
        }
        Iterator.single(out.result())
      }
    }.persist(StorageLevel.MEMORY_AND_DISK)
    blocks.count()

    val decodeDicts: Map[String, Array[Any]] = dicts.map { case (k, vs) =>
      k -> vs.map {
        case s: String => org.apache.spark.unsafe.types.UTF8String.fromString(s)
        case x => x
      }
    }
    registry.synchronized {
      registry.put(df, new Encoded(dicts, dicts.keys.map(k => k -> typeOf(k)).toMap,
        longCols, dblCols, intSourced, nullValueCols, blocks,
        sc.broadcast(decodeDicts)))
    }
  }

  // accumulator ops
  private final val OpSum = 0
  private final val OpMin = 1
  private final val OpMax = 2

  // how decode reads an output primitive off a merged slot
  private final val ReadCount = 0
  private final val ReadAvgL = 1
  private final val ReadAvgD = 2
  private final val ReadL = 3
  private final val ReadInt = 4 // min/max of an int column: the source type
  private final val ReadD = 5

  /** Filter predicates the kernel can fuse into the dense pass — the
    * reference's canonical `(select {… where: … by: …})` always runs its
    * filter+group fused (`core/query.c:311-404`). The grammar mirrors the
    * script surface's simple predicate forms (comparison / in / within /
    * and / or / not over a plain column and literals); anything richer
    * fails to compile and the caller falls back to the Catalyst plan. */
  sealed trait Pred extends Serializable
  object Pred {
    /** op ∈ < <= > >= = != */
    final case class Cmp(col: String, op: String, value: Any) extends Pred
    final case class In(col: String, values: Seq[Any]) extends Pred
    /** inclusive both ends (reference `within` = between) */
    final case class Within(col: String, lo: Any, hi: Any) extends Pred
    final case class And(a: Pred, b: Pred) extends Pred
    final case class Or(a: Pred, b: Pred) extends Pred
    final case class Not(p: Pred) extends Pred
  }

  private type MaskFn = (Block, Int) => Array[Boolean]

  private def longMask(c: String, f: Long => Boolean): MaskFn = (blk, n) => {
    val vs = blk(c).asInstanceOf[Array[Long]]
    val m = new Array[Boolean](n); var i = 0
    while (i < n) { m(i) = f(vs(i)); i += 1 }; m
  }
  private def dblMask(c: String, f: Double => Boolean): MaskFn = (blk, n) => {
    val vs = blk(c).asInstanceOf[Array[Double]]
    val m = new Array[Boolean](n); var i = 0
    while (i < n) { m(i) = f(vs(i)); i += 1 }; m
  }
  private def codeMask(c: String, ok: Array[Boolean]): MaskFn = (blk, n) => {
    val cs = blk(s"#$c").asInstanceOf[Array[Int]]
    val m = new Array[Boolean](n); var i = 0
    while (i < n) { m(i) = ok(cs(i)); i += 1 }; m
  }

  private def isIntegral(x: Any): Boolean =
    x.isInstanceOf[java.lang.Long] || x.isInstanceOf[java.lang.Integer]
  private def toL(x: Any): Long = x match {
    case l: java.lang.Long => l; case i: java.lang.Integer => i.toLong
  }
  private def toD(x: Any): Double = x match {
    case l: java.lang.Long => l.toDouble; case i: java.lang.Integer => i.toDouble
    case d: java.lang.Double => d; case f: java.lang.Float => f.toDouble
  }
  private def isNum(x: Any): Boolean = x match {
    case _: java.lang.Long | _: java.lang.Integer | _: java.lang.Double |
         _: java.lang.Float => true
    case _ => false
  }
  private def cmpL(op: String, v: Long, k: Long): Boolean = op match {
    case "<" => v < k; case "<=" => v <= k; case ">" => v > k
    case ">=" => v >= k; case "=" => v == k; case _ => v != k
  }
  private def cmpD(op: String, v: Double, k: Double): Boolean = op match {
    case "<" => v < k; case "<=" => v <= k; case ">" => v > k
    case ">=" => v >= k; case "=" => v == k; case _ => v != k
  }
  // string order must match Spark's (binary UTF-8), not UTF-16 compareTo
  private def cmpS(op: String, v: String, k: String): Boolean = {
    import org.apache.spark.unsafe.types.UTF8String
    val c = UTF8String.fromString(v).compareTo(UTF8String.fromString(k))
    op match {
      case "<" => c < 0; case "<=" => c <= 0; case ">" => c > 0
      case ">=" => c >= 0; case "=" => c == 0; case _ => c != 0
    }
  }

  /** Driver-side compile of a Pred over an encoded table: numeric block
    * columns evaluate per row; dictionary (string) columns pre-evaluate
    * ONCE PER DICT CODE — a predicate over a 1e5-value dictionary costs
    * 1e5 driver comparisons, then one array probe per row. Returns None
    * (→ Catalyst fallback) for any column/type pairing whose semantics
    * the kernel can't reproduce exactly. */
  private def compilePred(enc: Encoded, p: Pred): Option[MaskFn] = p match {
    case Pred.And(a, b) =>
      for (x <- compilePred(enc, a); y <- compilePred(enc, b)) yield {
        (blk: Block, n: Int) => {
          val m = x(blk, n); val o = y(blk, n); var i = 0
          while (i < n) { m(i) = m(i) && o(i); i += 1 }; m
        }: Array[Boolean]
      }
    case Pred.Or(a, b) =>
      for (x <- compilePred(enc, a); y <- compilePred(enc, b)) yield {
        (blk: Block, n: Int) => {
          val m = x(blk, n); val o = y(blk, n); var i = 0
          while (i < n) { m(i) = m(i) || o(i); i += 1 }; m
        }: Array[Boolean]
      }
    case Pred.Not(q) =>
      compilePred(enc, q).map { x => (blk: Block, n: Int) => {
        val m = x(blk, n); var i = 0
        while (i < n) { m(i) = !m(i); i += 1 }; m
      }: Array[Boolean] }
    case leaf =>
      val c = leaf match {
        case Pred.Cmp(c0, _, _) => c0
        case Pred.In(c0, _) => c0
        case Pred.Within(c0, _, _) => c0
        case _ => return None
      }
      if (enc.longCols(c)) compileNumLeaf(leaf, isLong = true)
      else if (enc.dblCols(c)) compileNumLeaf(leaf, isLong = false)
      else if (enc.dicts.contains(c) && enc.keyTypes(c) == StringType)
        compileDictLeaf(enc, c, leaf)
      else None

    }

  /** Numeric leaf: integral column+literals compare as Long, anything
    * floating compares as Double — the same promotions Catalyst applies. */
  private def compileNumLeaf(leaf: Pred, isLong: Boolean): Option[MaskFn] =
    leaf match {
      case Pred.Cmp(c, op, v) if isNum(v) =>
        if (isLong && isIntegral(v)) { val k = toL(v); Some(longMask(c, cmpL(op, _, k))) }
        else if (isLong) { val k = toD(v); Some(longMask(c, x => cmpD(op, x.toDouble, k))) }
        else { val k = toD(v); Some(dblMask(c, cmpD(op, _, k))) }
      case Pred.Within(c, lo, hi) if isNum(lo) && isNum(hi) =>
        if (isLong && isIntegral(lo) && isIntegral(hi)) {
          val l = toL(lo); val h = toL(hi)
          Some(longMask(c, x => x >= l && x <= h))
        } else if (isLong) {
          val l = toD(lo); val h = toD(hi)
          Some(longMask(c, x => { val d = x.toDouble; d >= l && d <= h }))
        } else {
          val l = toD(lo); val h = toD(hi)
          Some(dblMask(c, x => x >= l && x <= h))
        }
      case Pred.In(c, vs) if vs.nonEmpty && vs.forall(isNum) =>
        if (isLong && vs.forall(isIntegral)) {
          val ks = vs.map(toL).toArray
          Some(longMask(c, x => { var i = 0; var hit = false
            while (i < ks.length && !hit) { hit = ks(i) == x; i += 1 }; hit }))
        } else {
          val ks = vs.map(toD).toArray
          val f = (d: Double) => { var i = 0; var hit = false
            while (i < ks.length && !hit) { hit = ks(i) == d; i += 1 }; hit }
          if (isLong) Some(longMask(c, x => f(x.toDouble)))
          else Some(dblMask(c, f))
        }
      case _ => None
    }

  /** String-dictionary leaf: evaluate the predicate once per dict value
    * on the driver, probe per row. Only string literals compile (mixed
    * string/number comparisons fall back to Catalyst's cast semantics). */
  private def compileDictLeaf(enc: Encoded, c: String, leaf: Pred)
      : Option[MaskFn] = {
    val dict = enc.dicts(c)
    def build(f: String => Boolean): MaskFn =
      codeMask(c, dict.map(v => f(v.asInstanceOf[String])))
    leaf match {
      case Pred.Cmp(_, op, k: String) => Some(build(cmpS(op, _, k)))
      case Pred.Within(_, lo: String, hi: String) =>
        Some(build(v => cmpS(">=", v, lo) && cmpS("<=", v, hi)))
      case Pred.In(_, vs) if vs.nonEmpty && vs.forall(_.isInstanceOf[String]) =>
        val set = vs.map(_.asInstanceOf[String]).toSet
        Some(build(set.contains))
      case _ => None
    }
  }

  /** Per-partition partials: occupancy counts + one slot array per
    * long/double accumulator; a slot is occupied iff its count is > 0.
    * `codes` is null on the dense branch (slot i of a range starting at
    * `base` holds composite code base + i) and holds each slot's
    * composite code on the hashed one. */
  private final case class Partial(
      counts: Array[Long],
      accL: Array[Array[Long]],
      accD: Array[Array[Double]],
      codes: Array[Long]) {
    /** Slot-wise merge of a dense partial over the same code range. */
    def merge(o: Partial, opsL: Array[Int], opsD: Array[Int]): Partial = {
      val p = counts.length
      var i = 0
      while (i < p) { counts(i) += o.counts(i); i += 1 }
      var a = 0
      while (a < accL.length) {
        val x = accL(a); val y = o.accL(a)
        opsL(a) match {
          // addExact: ANSI mode is on repo-wide, so the Catalyst plan this
          // kernel replaces raises on BIGINT sum overflow — match it
          case OpSum => var i = 0; while (i < p) { x(i) = Math.addExact(x(i), y(i)); i += 1 }
          case OpMin => var i = 0; while (i < p) { if (y(i) < x(i)) x(i) = y(i); i += 1 }
          case OpMax => var i = 0; while (i < p) { if (y(i) > x(i)) x(i) = y(i); i += 1 }
        }
        a += 1
      }
      a = 0
      while (a < accD.length) {
        val x = accD(a); val y = o.accD(a)
        opsD(a) match {
          case OpSum => var i = 0; while (i < p) { x(i) += y(i); i += 1 }
          case OpMin => var i = 0; while (i < p) { if (y(i) < x(i)) x(i) = y(i); i += 1 }
          case OpMax => var i = 0; while (i < p) { if (y(i) > x(i)) x(i) = y(i); i += 1 }
        }
        a += 1
      }
      this
    }

    /** The slots `sel`, in order, as a new hashed partial. */
    def select(sel: Array[Int]): Partial = {
      def pickL(xs: Array[Long]) = {
        val out = new Array[Long](sel.length); var i = 0
        while (i < sel.length) { out(i) = xs(sel(i)); i += 1 }; out
      }
      def pickD(xs: Array[Double]) = {
        val out = new Array[Double](sel.length); var i = 0
        while (i < sel.length) { out(i) = xs(sel(i)); i += 1 }; out
      }
      Partial(pickL(counts), accL.map(pickL), accD.map(pickD), pickL(codes))
    }
  }

  /** Composite code → slot (0, 1, 2, … in first-seen order) for key
    * products past `MaxDense`: linear probing over a power-of-two table
    * of slot ids kept at most half full for `maxKeys` distinct codes —
    * 8-16 B per key for the table plus 8 B per key for `codes`. More than
    * `maxKeys` distinct codes is a caller error (index out of bounds). */
  private final class SlotMap(maxKeys: Int) {
    private val bits =
      64 - java.lang.Long.numberOfLeadingZeros(2L * math.max(maxKeys, 1) - 1)
    private val mask = (1 << bits) - 1
    private val shift = 64 - bits
    private val table = new Array[Int](1 << bits)
    java.util.Arrays.fill(table, -1)
    /** slot → composite code */
    val codes = new Array[Long](maxKeys)
    private var size = 0

    def slotOf(code: Long): Int = {
      // multiplicative (Fibonacci) hashing: the top `bits` of code·φ
      var h = ((code * 0x9E3779B97F4A7C15L) >>> shift).toInt
      var s = table(h)
      while (s >= 0 && codes(s) != code) { h = (h + 1) & mask; s = table(h) }
      if (s < 0) { s = size; table(h) = s; codes(s) = code; size += 1 }
      s
    }
  }

  /** Merge chunk of a composite code on the hashed branch: the murmur3
    * finalizer, unrelated to SlotMap's multiplicative probe, so the codes
    * of one chunk still spread over the merge task's own SlotMap. */
  private def chunkOf(code: Long, nChunks: Int): Int = {
    var h = code
    h ^= h >>> 33; h *= 0xff51afd7ed558ccdL
    h ^= h >>> 33; h *= 0xc4ceb9fe1a85ec53L
    h ^= h >>> 33
    java.lang.Math.floorMod(h, nChunks.toLong).toInt
  }

  /** acc(at(i)) ⊕= vs(i) for i < m — vs(idx(i)) when idx is non-null.
    * Pass 2 of every map task, and the hashed merge of a slice's slots. */
  private def accumulateL(op: Int, acc: Array[Long], at: Array[Int], m: Int,
                          vs: Array[Long], idx: Array[Int]): Unit =
    if (idx == null) op match {
      case OpSum => var i = 0; while (i < m) { val c = at(i); acc(c) = Math.addExact(acc(c), vs(i)); i += 1 }
      case OpMin => var i = 0; while (i < m) { val c = at(i); if (vs(i) < acc(c)) acc(c) = vs(i); i += 1 }
      case OpMax => var i = 0; while (i < m) { val c = at(i); if (vs(i) > acc(c)) acc(c) = vs(i); i += 1 }
    } else op match {
      case OpSum => var i = 0; while (i < m) { val c = at(i); acc(c) = Math.addExact(acc(c), vs(idx(i))); i += 1 }
      case OpMin => var i = 0; while (i < m) { val c = at(i); val v = vs(idx(i)); if (v < acc(c)) acc(c) = v; i += 1 }
      case OpMax => var i = 0; while (i < m) { val c = at(i); val v = vs(idx(i)); if (v > acc(c)) acc(c) = v; i += 1 }
    }

  private def accumulateD(op: Int, acc: Array[Double], at: Array[Int], m: Int,
                          vs: Array[Double], idx: Array[Int]): Unit =
    if (idx == null) op match {
      case OpSum => var i = 0; while (i < m) { acc(at(i)) += vs(i); i += 1 }
      case OpMin => var i = 0; while (i < m) { val c = at(i); if (vs(i) < acc(c)) acc(c) = vs(i); i += 1 }
      case OpMax => var i = 0; while (i < m) { val c = at(i); if (vs(i) > acc(c)) acc(c) = vs(i); i += 1 }
    } else op match {
      case OpSum => var i = 0; while (i < m) { acc(at(i)) += vs(idx(i)); i += 1 }
      case OpMin => var i = 0; while (i < m) { val c = at(i); val v = vs(idx(i)); if (v < acc(c)) acc(c) = v; i += 1 }
      case OpMax => var i = 0; while (i < m) { val c = at(i); val v = vs(idx(i)); if (v > acc(c)) acc(c) = v; i += 1 }
    }

  /** comp(i) = comp(i) · radix + k(i) for i < n: folds one key column
    * into the rows' mixed-radix composite codes. */
  private def foldKey(comp: Array[Long], k: Array[Int], radix: Long, n: Int): Unit = {
    var i = 0
    while (i < n) { comp(i) = comp(i) * radix + k(i); i += 1 }
  }

  /** Pass 1 of a block: every row kept by `mask` (all rows when null)
    * takes its composite code's slot into codes[0..m) and one count. Under
    * a mask idx[0..m) maps the kept rows back to source positions, so the
    * value loops stay branch-free over m. Returns m. Dense: the code is
    * the slot. */
  private def assignDense(comp: Array[Long], n: Int, mask: Array[Boolean],
                          codes: Array[Int], idx: Array[Int],
                          counts: Array[Long]): Int = {
    var m = 0
    var i = 0
    while (i < n) {
      if (mask == null || mask(i)) {
        val s = comp(i).toInt
        codes(m) = s; counts(s) += 1
        if (mask != null) idx(m) = i
        m += 1
      }
      i += 1
    }
    m
  }

  /** [[assignDense]] with the slot a SlotMap probe. A separate loop, not a
    * branch in one: the JIT compiles the dense loop first (every small key
    * product runs it) and would deoptimize it on the first hashed row. */
  private def assignHashed(comp: Array[Long], n: Int, mask: Array[Boolean],
                           slotMap: SlotMap, codes: Array[Int], idx: Array[Int],
                           counts: Array[Long]): Int = {
    var m = 0
    var i = 0
    while (i < n) {
      if (mask == null || mask(i)) {
        val s = slotMap.slotOf(comp(i))
        codes(m) = s; counts(s) += 1
        if (mask != null) idx(m) = i
        m += 1
      }
      i += 1
    }
    m
  }

  /** Try to run `keys`-grouped primitives `prims` (op ∈ sum|avg|min|max|
    * count, aligned with output columns `__p0…`) over an encoded table.
    * `finish` receives the small decoded DataFrame (key cols + `__pN`
    * primitive cols, Spark-typed) and applies the query's post-arithmetic
    * and naming. Returns None whenever the kernel doesn't apply. */
  def tryRun(df: DataFrame, keys: Seq[String], prims: Seq[(String, String)],
             finish: DataFrame => DataFrame,
             filter: Option[Pred] = None): Option[DataFrame] = {
    val enc = registry.synchronized(registry.get(df))
    if (enc == null || keys.isEmpty) return None
    if (!keys.forall(enc.dicts.contains)) return None
    val cards = keys.map(enc.dicts(_).length.toLong)
    // the key product bounds the mixed-radix composite code: past a Long
    // the code no longer fits and the Catalyst plan answers
    val product =
      try cards.reduce(Math.multiplyExact(_, _))
      catch { case _: ArithmeticException => return None }
    if (product == 0) return None
    // dense: a composite code is its own slot; past MaxDense each task
    // maps its codes to at most one slot per row through a SlotMap
    val dense = product <= MaxDense

    val supported = prims.forall { case (op, c) =>
      op match {
        // count is LENGTH semantics in the script surface (Rayfall maps
        // `(count v)` to count(lit(1)), like the reference) — row count
        // is correct parity even over a null-bearing column
        case "count" => true
        case "sum" | "avg" | "min" | "max" => enc.longCols(c) || enc.dblCols(c)
        case _ => false
      }
    }
    if (!supported) return None
    // fused filter: compile once on the driver (dict leaves pre-evaluate
    // per code); an uncompilable predicate falls back to Catalyst
    val maskF: MaskFn = filter match {
      case None => null
      case Some(pred) => compilePred(enc, pred).getOrElse(return None)
    }

    // accumulator plan: avg(int) sums in Long (exact), avg(double) in Double
    final case class Slot(op: Int, col: String, isLong: Boolean, init: Long, initD: Double)
    val slotOf = scala.collection.mutable.LinkedHashMap.empty[(String, String), Slot]
    prims.foreach { case (op, c) =>
      val isLong = enc.longCols(c)
      op match {
        case "count" => ()
        case "sum" | "avg" =>
          slotOf.getOrElseUpdate(("sum", c), Slot(OpSum, c, isLong, 0L, 0.0))
        case "min" =>
          slotOf.getOrElseUpdate(("min", c), Slot(OpMin, c, isLong, Long.MaxValue, Double.PositiveInfinity))
        case "max" =>
          slotOf.getOrElseUpdate(("max", c), Slot(OpMax, c, isLong, Long.MinValue, Double.NegativeInfinity))
      }
    }
    val slots = slotOf.values.toArray
    val slotsL = slots.filter(_.isLong)
    val slotsD = slots.filterNot(_.isLong)
    val slotIdx: Map[(String, String), (Boolean, Int)] =
      slotsL.zipWithIndex.map(s => (opName(s._1.op), s._1.col) -> (true, s._2)).toMap ++
        slotsD.zipWithIndex.map(s => (opName(s._1.op), s._1.col) -> (false, s._2)).toMap
    val opsL = slotsL.map(_.op)
    val opsD = slotsD.map(_.op)
    val cardsArr = cards.map(_.toInt).toArray
    val keyArr = keys.toArray
    val nKeys = keyArr.length
    val colL = slotsL.map(_.col)
    val colD = slotsD.map(_.col)
    val initL = slotsL.map(_.init)
    val initD = slotsD.map(_.initD)
    // `size` fresh slots: zero counts, accumulators at their identities
    def emptyPartial(size: Int): Partial = Partial(
      new Array[Long](size),
      initL.map { v =>
        val acc = new Array[Long](size)
        if (v != 0L) java.util.Arrays.fill(acc, v)
        acc
      },
      initD.map { v =>
        val acc = new Array[Double](size)
        if (v != 0.0) java.util.Arrays.fill(acc, v)
        acc
      },
      null)

    // Large dense products make the partial arrays the dominant shipping
    // cost (P=1e5 × 3 accumulators ≈ 2.4 MB per partition): merge locally
    // first by giving each task several cached blocks (coalesce keeps
    // locality on a cluster), so fewer, same-sized partials travel. The
    // fan-in is proportional (×4, floor 8) — a fixed small number would
    // collapse a big cluster's scan to a handful of tasks. Hashed partials
    // are O(rows), so a coalesce would only serialize their work.
    val src =
      if (dense && product >= (1 << 14))
        enc.blocks.coalesce(
          math.max(8, enc.blocks.getNumPartitions / 4), shuffle = false)
      else enc.blocks
    val partials = src.mapPartitions { it =>
      val blocks = it.toArray
      if (blocks.isEmpty) Iterator.empty
      else {
        // hashed: at most one slot per row of the task
        val rows = blocks.iterator
          .map(_(s"#${keyArr(0)}").asInstanceOf[Array[Int]].length.toLong).sum
        val slotMap = if (dense) null else new SlotMap(math.min(product, rows).toInt)
        val pt = emptyPartial(if (dense) product.toInt else slotMap.codes.length)
        val counts = pt.counts
        var comp: Array[Long] = null
        var codes: Array[Int] = null
        var idx: Array[Int] = null
        blocks.foreach { block =>
          val n = block(s"#${keyArr(0)}").asInstanceOf[Array[Int]].length
          if (codes == null || codes.length < n) {
            comp = new Array[Long](n); codes = new Array[Int](n)
          }
          val mask = if (maskF == null) null else maskF(block, n)
          if (mask != null && (idx == null || idx.length < n)) idx = new Array[Int](n)
          // pass 1: composite codes one key column at a time (radix 0 for
          // the first column overwrites the previous block's codes), then
          // each kept row's slot plus occupancy — the only step where the
          // two branches differ
          var j = 0
          while (j < nKeys) {
            foldKey(comp, block(s"#${keyArr(j)}").asInstanceOf[Array[Int]],
              if (j == 0) 0L else cardsArr(j).toLong, n)
            j += 1
          }
          val m =
            if (dense) assignDense(comp, n, mask, codes, idx, counts)
            else assignHashed(comp, n, mask, slotMap, codes, idx, counts)
          // pass 2: one tight loop per accumulator
          val rowIdx = if (mask == null) null else idx
          var a = 0
          while (a < colL.length) {
            accumulateL(opsL(a), pt.accL(a), codes, m,
              block(colL(a)).asInstanceOf[Array[Long]], rowIdx)
            a += 1
          }
          a = 0
          while (a < colD.length) {
            accumulateD(opsD(a), pt.accD(a), codes, m,
              block(colD(a)).asInstanceOf[Array[Double]], rowIdx)
            a += 1
          }
        }
        Iterator.single(if (dense) pt else pt.copy(codes = slotMap.codes))
      }
    }

    // decode occupied cells into a local DataFrame; nullability as the
    // Catalyst plan declares it (keys as in the source, count never null)
    val outFields =
      keyArr.map(k => StructField(k, enc.keyTypes(k), df.schema(k).nullable)) ++
        prims.zipWithIndex.map { case ((op, c), i) =>
          val dt = op match {
            case "count" => LongType
            case "avg" => DoubleType
            case "sum" => if (enc.longCols(c)) LongType else DoubleType
            case "min" | "max" =>
              if (enc.intSourced(c)) IntegerType
              else if (enc.longCols(c)) LongType else DoubleType
          }
          StructField(s"__p$i", dt, nullable = op != "count")
        }
    val schema = StructType(outFields.toArray)
    // decode dictionaries ride the per-table broadcast (see Encoded) —
    // only this stub enters the merge-task closure
    val bcDecode = enc.bcDecode
    // Merge + decode run where the partials are — nothing routes through
    // the driver, and the caller's action executes the whole thing as ONE
    // job: scan → tiny shuffle → merge + decode + project. Small key
    // products take a 1-partition shuffle (a few KB). Large products
    // (P ≥ 2^14 — the H2O 1e5-group family, and every hashed product)
    // split every partial into `nChunks` chunks — contiguous code ranges
    // when dense, by a hash of the code when hashed — and shuffle BY
    // CHUNK, so the merge's fetch + deserialize + add + row decode all
    // run `nChunks`-wide instead of serializing ~partials × P cells
    // through one task (measured: that single task was the whole
    // Q3/Q5/Q6 gap vs the reference; the bytes moved are identical, only
    // parallel).
    // where decode reads each output primitive, resolved once here instead
    // of per slot: (kind, accumulator index)
    val (primKind, primAcc) = prims.map { case (op, c) =>
      if (op == "count") (ReadCount, 0)
      else {
        val (isL, a) = slotIdx((if (op == "avg") "sum" else op, c))
        val kind =
          if (op == "avg") (if (isL) ReadAvgL else ReadAvgD)
          else if (!isL) ReadD
          else if (enc.intSourced(c) && op != "sum") ReadInt
          else ReadL
        (kind, a)
      }
    }.toArray.unzip
    val nPrims = primKind.length
    // decode the occupied slots of a merged partial into output rows (key
    // decode + post-agg slots); a dense slot i holds code base + i
    def decodeSlots(merged: Partial, base: Long)
        : Iterator[org.apache.spark.sql.catalyst.InternalRow] = {
      // executor-side: resolve the broadcast once per range
      val dictsInternal: Array[Array[Any]] = {
        val m = bcDecode.value; keyArr.map(m)
      }
      // one call per occupied slot: a method the JIT compiles after a few
      // hundred rows, not a loop body that waits for on-stack replacement
      def row(i: Int): org.apache.spark.sql.catalyst.InternalRow = {
        val n = merged.counts(i)
        val vals = new Array[Any](nKeys + nPrims)
        var rem = if (merged.codes == null) base + i else merged.codes(i)
        var j = nKeys - 1
        while (j >= 0) {
          vals(j) = dictsInternal(j)((rem % cardsArr(j)).toInt)
          rem /= cardsArr(j)
          j -= 1
        }
        var q = 0
        while (q < nPrims) {
          val a = primAcc(q)
          vals(nKeys + q) = primKind(q) match {
            case ReadCount => n
            case ReadAvgL => merged.accL(a)(i).toDouble / n
            case ReadAvgD => merged.accD(a)(i) / n
            case ReadL => merged.accL(a)(i)
            case ReadInt => merged.accL(a)(i).toInt
            case ReadD => merged.accD(a)(i)
          }
          q += 1
        }
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(vals)
      }
      val rows = scala.collection.mutable.ArrayBuffer
        .empty[org.apache.spark.sql.catalyst.InternalRow]
      var i = 0
      while (i < merged.counts.length) {
        if (merged.counts(i) > 0) rows += row(i)
        i += 1
      }
      rows.iterator
    }
    // hashed merge: the slots of every slice re-map into one SlotMap sized
    // to the slots received and fold in through pass 2's accumulate loops
    def mergeHashed(slices: Array[Partial]): Partial = {
      val into = new SlotMap(slices.iterator.map(_.counts.length).sum)
      val out = emptyPartial(into.codes.length)
      slices.foreach { pt =>
        val k = pt.counts.length
        val at = new Array[Int](k)
        var i = 0
        while (i < k) {
          val s = into.slotOf(pt.codes(i)); at(i) = s; out.counts(s) += pt.counts(i); i += 1
        }
        var a = 0
        while (a < opsL.length) { accumulateL(opsL(a), out.accL(a), at, k, pt.accL(a), null); a += 1 }
        a = 0
        while (a < opsD.length) { accumulateD(opsD(a), out.accD(a), at, k, pt.accD(a), null); a += 1 }
      }
      out.copy(codes = into.codes)
    }
    val nChunks = if (product >= (1 << 14)) 8 else 1
    val mergedRows =
      if (dense && GroupKernel.driverMergeEligible(product.toInt, src.getNumPartitions)) {
        // p ≤ 2^14 keeps the DECODED result small: the driver path
        // ships result rows in one task closure, and a 1e5-group query
        // sneaking under the product bound (few source partitions)
        // re-opened the round-7 LocalRelation trap — its single-task
        // stage paid ~40 ms of closure deserialization per query
        // (measured: Q6 255 ms vs 140 via the executor merge).
        // small dense space (the H2O Q1/Q2/Q4 shapes): the partials are
        // a few KB-to-hundreds-of-KB each — collect and merge on the
        // driver, decode locally, re-distribute the result rows as a
        // single-partition RDD. Removes the 1-partition shuffle stage
        // (its 32 map-output files + an extra scheduled stage cost more
        // than the result ships for). The large-row LocalRelation trap
        // (round 7) doesn't apply: rows enter as InternalRows, no
        // encoder pass. The gate bounds the PRODUCT slots×partitions
        // (≤ 2^21, the same worst-case driver pull as the original
        // p ≤ 4096 × 512-partition gate — round 10 widened it so a
        // 10k-group query on a 32-partition scan merges driver-side
        // too): a 1000-executor scan with 100k partitions must NOT fan
        // 10 GB of partials into the driver — past the gate the
        // executor-side merge below runs.
        val ps = partials.collect()
        val rows =
          if (ps.isEmpty) Array.empty[org.apache.spark.sql.catalyst.InternalRow]
          else decodeSlots(ps.reduce((a, b) => a.merge(b, opsL, opsD)), 0).toArray
        df.sparkSession.sparkContext.parallelize(
          scala.collection.immutable.ArraySeq.unsafeWrapArray(rows), 1)
      }
      else if (nChunks == 1)
        partials.repartition(1).mapPartitions { ps =>
          if (ps.isEmpty) Iterator.empty
          else decodeSlots(ps.reduce((a, b) => a.merge(b, opsL, opsD)), 0)
        }
      else {
        val chunkSize = if (dense) (product.toInt + nChunks - 1) / nChunks else 0
        // a partial's slices, one per chunk: dense ones by code range,
        // hashed ones gather their occupied slots by chunkOf(code)
        def split(pt: Partial): Iterator[(Int, Partial)] =
          if (pt.codes == null) (0 until nChunks).iterator.map { ch =>
            val from = ch * chunkSize
            val until = math.min(product.toInt, from + chunkSize)
            ch -> Partial(
              java.util.Arrays.copyOfRange(pt.counts, from, until),
              pt.accL.map(a => java.util.Arrays.copyOfRange(a, from, until)),
              pt.accD.map(a => java.util.Arrays.copyOfRange(a, from, until)),
              null)
          }
          else {
            val n = pt.counts.length
            val chunk = new Array[Int](n)
            val sizes = new Array[Int](nChunks)
            var i = 0
            while (i < n) {
              if (pt.counts(i) > 0) {
                chunk(i) = chunkOf(pt.codes(i), nChunks); sizes(chunk(i)) += 1
              } else chunk(i) = -1
              i += 1
            }
            val sel = sizes.map(new Array[Int](_))
            val filled = new Array[Int](nChunks)
            i = 0
            while (i < n) {
              val ch = chunk(i)
              if (ch >= 0) { sel(ch)(filled(ch)) = i; filled(ch) += 1 }
              i += 1
            }
            Iterator.tabulate(nChunks)(ch => ch -> pt.select(sel(ch)))
          }
        partials.flatMap(split)
          .partitionBy(new org.apache.spark.HashPartitioner(nChunks))
          .mapPartitions { it =>
            if (it.isEmpty) Iterator.empty
            else if (dense) {
              // one chunk id per partition (ids 0..nChunks-1 hash to
              // themselves); merge its slices, decode its code range
              var ch = -1
              var merged: Partial = null
              it.foreach { case (c, slice) =>
                ch = c
                merged =
                  if (merged == null) slice else merged.merge(slice, opsL, opsD)
              }
              decodeSlots(merged, ch.toLong * chunkSize)
            }
            else decodeSlots(mergeHashed(it.map(_._2).toArray), 0)
          }
      }
    // 1-partition results (driver merge, single-chunk executor merge)
    // declare SinglePartition so the caller's count/collect aggregate
    // plans exchange-free — one stage fewer per sub-second query
    val idf =
      if (mergedRows.getNumPartitions == 1)
        org.apache.spark.sql.graftshim.ColumnInternals
          .internalDataFrameSingle(df.sparkSession, schema, mergedRows)
      else org.apache.spark.sql.graftshim.ColumnInternals
        .internalDataFrame(df.sparkSession, schema, mergedRows)
    Some(finish(idf))
  }

  private def opName(op: Int): String = op match {
    case OpSum => "sum"; case OpMin => "min"; case OpMax => "max"
  }
}
