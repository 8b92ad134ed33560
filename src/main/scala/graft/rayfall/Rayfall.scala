package graft.rayfall

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.RF
import graft.{StringToColumn, Tbl}

/** A thin front-end for the reference's Rayfall query language
  * (s-expressions; parser mirrored on `/root/reference/core/parse.c`
  * grammar: lists `(f a b)`, vector literals `[a b]`, dict literals
  * `{k: v}`, quoted symbols `'sym`, numbers, strings).
  *
  * This is NOT the reference implementation re-done — expressions are
  * translated straight into Catalyst `Column`s and the `Tbl` facade, so
  * a Rayfall `select` compiles to the same optimized Spark plan as the
  * native API. Covered surface: `select`/`update` with
  * `from:/where:/by:/take:`, `insert`/`upsert`, the join family
  * (`left-join`/`inner-join`/`asof-join`/`window-join`/`window-join1`),
  * `distinct`/`xasc`/`xdesc`, arithmetic/comparison/logic, the
  * aggregation set, and the scalar library shims (`xbar`, `within`,
  * `like`, Euclidean `/` `%`).
  */
object Rayfall {

  // ---------------------------------------------------------------- AST
  sealed trait RExpr
  /** Numeric literal. Integer lexemes keep the exact i64 in `l` (the
    * reference parser holds exact i64 — `core/parse.c` number path — and the
    * engine's TIMESTAMP convention is nanos-as-long, ~1.7e18, above Double's
    * 2^53 exact range); `v` is only meaningful when `isInt` is false.
    */
  final case class RNum(v: Double, isInt: Boolean, l: Long = 0L) extends RExpr
  /** Typed null literal (`0Nl`/`0Ni`/`0Nf`/`null` — reference sentinel
    * nulls, SURVEY §1.2: all become real SQL NULLs here). */
  case object RNull extends RExpr
  /** DATE literal yyyy.mm.dd (reference core/parse.c temporal literals;
    * DATE = days since 2000.01.01, SURVEY §1.2). */
  final case class RDate(date: java.time.LocalDate) extends RExpr
  final case class RStr(v: String) extends RExpr
  final case class RSym(name: String) extends RExpr
  final case class RQuote(name: String) extends RExpr
  final case class RList(items: List[RExpr]) extends RExpr
  final case class RVec(items: List[RExpr]) extends RExpr
  final case class RDict(pairs: List[(String, RExpr)]) extends RExpr

  // ------------------------------------------------------------- parser
  def parse(src: String): RExpr = {
    val p = new Parser(src)
    val e = p.parseExpr()
    p.skipWs()
    require(p.eof, s"trailing input at ${p.pos}: '${p.rest.take(20)}'")
    e
  }

  private final class Parser(s: String) {
    var pos = 0
    def eof: Boolean = pos >= s.length
    def rest: String = s.substring(pos)
    def skipWs(): Unit = {
      while (!eof && (s(pos).isWhitespace || s(pos) == ',')) pos += 1
      if (!eof && s(pos) == ';') { // comment to end of line
        while (!eof && s(pos) != '\n') pos += 1
        skipWs()
      }
    }
    def parseExpr(): RExpr = {
      skipWs()
      require(!eof, "unexpected end of input")
      s(pos) match {
        case '(' => pos += 1; RList(parseSeq(')'))
        case '[' => pos += 1; RVec(parseSeq(']'))
        case '{' => pos += 1; parseDict()
        // char literal 'x' (reference C8 atom) — a 1-char string here;
        // distinguished from a symbol quote by the closing apostrophe.
        // Escaped forms '\n' '\t' '\r' '\\' '\'' and octal '\001'
        // (tests/lang.c:3253-3277 — FIX-protocol style payloads)
        case '\'' if pos + 2 < s.length && s(pos + 1) == '\\' =>
          pos += 2 // opening quote + backslash
          val c = parseEscape()
          require(!eof && s(pos) == '\'', s"unterminated char literal at $pos")
          pos += 1
          RStr(c.toString)
        case '\'' if pos + 2 < s.length && s(pos + 2) == '\'' &&
            s(pos + 1) != '\'' && s(pos + 1) != ' ' =>
          val c = s(pos + 1); pos += 3; RStr(c.toString)
        // a bare quote is the null symbol 0Ns (tests/lang.c:3280)
        case '\'' if pos + 1 >= s.length || s(pos + 1).isWhitespace ||
            "()[]{}':;,".indexOf(s(pos + 1).toInt) >= 0 =>
          pos += 1; RNull
        case '\'' => pos += 1; RQuote(parseSymName())
        case '"' => parseStr()
        case c if c.isDigit || (c == '-' && pos + 1 < s.length &&
          s(pos + 1).isDigit) => parseNum()
        case _ => RSym(parseSymName())
      }
    }
    private def parseSeq(close: Char): List[RExpr] = {
      val buf = List.newBuilder[RExpr]
      skipWs()
      while ({ require(!eof, s"missing '$close'"); s(pos) != close }) {
        buf += parseExpr(); skipWs()
      }
      pos += 1
      buf.result()
    }
    private def parseDict(): RDict = {
      val buf = List.newBuilder[(String, RExpr)]
      skipWs()
      while ({ require(!eof, "missing '}'"); s(pos) != '}' }) {
        val key = parseSymName()
        require(!eof && s(pos) == ':', s"expected ':' after dict key $key")
        pos += 1
        buf += ((key, parseExpr()))
        skipWs()
      }
      pos += 1
      RDict(buf.result())
    }
    private def parseSymName(): String = {
      val start = pos
      while (!eof && !s(pos).isWhitespace &&
        "()[]{}':;,".indexOf(s(pos).toInt) < 0) pos += 1
      require(pos > start, s"expected symbol at $start")
      s.substring(start, pos)
    }
    private def parseStr(): RStr = {
      pos += 1
      val sb = new StringBuilder
      while ({ require(!eof, "unterminated string"); s(pos) != '"' }) {
        if (s(pos) == '\\' && pos + 1 < s.length) { pos += 1; sb += parseEscape() }
        else { sb += s(pos); pos += 1 }
      }
      pos += 1
      RStr(sb.toString)
    }
    /** One escape body (cursor ON the char after the backslash): standard
      * C escapes plus 1-3 digit octal (reference string/char literals,
      * tests/lang.c:3258-3309 — the FIX-protocol SOH payload case).
      * Leaves the cursor just past the escape. */
    private def parseEscape(): Char = {
      val c = s(pos)
      if (c >= '0' && c <= '7') {
        val b = pos
        while (!eof && pos - b < 3 && s(pos) >= '0' && s(pos) <= '7') pos += 1
        Integer.parseInt(s.substring(b, pos), 8).toChar
      } else {
        pos += 1
        c match {
          case 'n' => '\n'
          case 'r' => '\r'
          case 't' => '\t'
          case other => other // \\ \" \' and any literal char
        }
      }
    }
    private def parseNum(): RExpr = {
      val start = pos
      if (s(pos) == '-') pos += 1
      while (!eof && s(pos).isDigit) pos += 1
      // TIME literal HH:MM:SS(.mmm) → millis since midnight (reference
      // TIME type, core/parse.c:202-426 temporal literals)
      if (!eof && s(pos) == ':' && pos - start <= 2) {
        val hh = s.substring(start, pos).toLong
        def two(): Long = {
          pos += 1 // ':'
          val b = pos
          while (!eof && s(pos).isDigit) pos += 1
          s.substring(b, pos).toLong
        }
        val mm = two()
        val ss = two()
        val ms =
          if (!eof && s(pos) == '.') {
            pos += 1
            val b = pos
            while (!eof && s(pos).isDigit) pos += 1
            s.substring(b, pos).toLong
          } else 0L
        return RNum(0.0, isInt = true,
          l = ((hh * 60 + mm) * 60 + ss) * 1000 + ms)
      }
      // hex byte literal 0xNN (reference u8 atoms, tests/lang.c:218-222;
      // integral-to-Long convention as with every other int width)
      if (!eof && s.substring(start, pos) == "0" && s(pos) == 'x' &&
          pos + 1 < s.length && Character.digit(s(pos + 1), 16) >= 0) {
        pos += 1
        val b = pos
        while (!eof && Character.digit(s(pos), 16) >= 0) pos += 1
        return RNum(0.0, isInt = true,
          l = java.lang.Long.parseLong(s.substring(b, pos), 16))
      }
      // typed null literal 0N{l,i,f,h,s,g} (reference sentinel nulls)
      if (!eof && s.substring(start, pos) == "0" && s(pos) == 'N' &&
          pos + 1 < s.length && "lifhsg".indexOf(s(pos + 1).toInt) >= 0 &&
          (pos + 2 >= s.length || s(pos + 2).isWhitespace ||
            "()[]{}':;,".indexOf(s(pos + 2).toInt) >= 0)) {
        pos += 2
        return RNull
      }
      while (!eof && (s(pos).isDigit || s(pos) == '.')) pos += 1
      val text = s.substring(start, pos)
      // kdb-style typed-number suffix (0s = short zero etc.,
      // examples/sesslog.rfl): the value is what matters here — all
      // integral types are LongType under the repo's conventions
      if (!eof && !text.contains('.') &&
          "sijfh".indexOf(s(pos).toInt) >= 0 &&
          (pos + 1 >= s.length || s(pos + 1).isWhitespace ||
            "()[]{}':;,".indexOf(s(pos + 1).toInt) >= 0)) {
        pos += 1
        return RNum(0.0, isInt = true, l = text.toLong)
      }
      // TIMESTAMP literal yyyy.mm.ddDHH:MM:SS.fffffffff → nanos-since-
      // epoch long (reference core/parse.c temporal literals; the repo's
      // ns-as-long TIMESTAMP convention, SURVEY §1.2)
      if (!eof && s(pos) == 'D') text.split('.') match {
        case Array(y, m, d)
            if y.length == 4 && m.length == 2 && d.length == 2 =>
          pos += 1 // 'D'
          def part(): Long = {
            val b = pos
            while (!eof && s(pos).isDigit) pos += 1
            s.substring(b, pos).toLong
          }
          val hh = part()
          require(!eof && s(pos) == ':', "bad timestamp literal"); pos += 1
          val mm = part()
          require(!eof && s(pos) == ':', "bad timestamp literal"); pos += 1
          val ss = part()
          val frac =
            if (!eof && s(pos) == '.') {
              pos += 1
              val b = pos
              while (!eof && s(pos).isDigit) pos += 1
              val digits = s.substring(b, pos)
              // ns precision is the maximum the convention carries: a
              // 10+-digit fraction would silently parse to wrong nanos
              // (mirrors the tsIso \d{1,9} regex, which rejects it)
              require(digits.length <= 9,
                s"timestamp fraction exceeds ns precision: .$digits")
              digits.padTo(9, '0').toLong
            } else 0L
          val days = java.time.LocalDate.of(y.toInt, m.toInt, d.toInt).toEpochDay
          return RNum(0.0, isInt = true,
            l = (days * 86400L + hh * 3600 + mm * 60 + ss) * 1000000000L + frac)
        case _ => ()
      }
      // DATE literal yyyy.mm.dd
      text.split('.') match {
        case Array(y, m, d)
            if y.length == 4 && m.length == 2 && d.length == 2 =>
          return RDate(java.time.LocalDate.of(y.toInt, m.toInt, d.toInt))
        case _ => ()
      }
      // scientific notation 1.23e-02 / 5E3 → f64 (reference float
      // literals, tests/lang.c:50-53)
      if (!eof && (s(pos) == 'e' || s(pos) == 'E')) {
        val mark = pos
        pos += 1
        if (!eof && (s(pos) == '+' || s(pos) == '-')) pos += 1
        if (!eof && s(pos).isDigit) {
          while (!eof && s(pos).isDigit) pos += 1
          return RNum(s.substring(start, pos).toDouble, isInt = false)
        }
        pos = mark
      }
      if (text.contains('.')) RNum(text.toDouble, isInt = false)
      else try RNum(0.0, isInt = true, l = text.toLong)
      catch {
        // i64 overflow falls back to f64, like the reference's parser
        // (tests/lang.c:54: -1000123…555 → -1.000124e+30)
        case _: NumberFormatException => RNum(text.toDouble, isInt = false)
      }
    }
  }

  // ---------------------------------------------------------- evaluator

  /** Evaluate a Rayfall query string against a table catalog. */
  def query(src: String, tables: Map[String, DataFrame]): DataFrame =
    eval(parse(src), tables)

  /** Script-level `(raise msg)` (reference try/raise, core/error.c). */
  final class RayfallError(msg: String) extends RuntimeException(msg)

  /** Run a script and return the LAST form's VALUE (reference eval
    * semantics: every form is an expression — tests/lang.c asserts on
    * the final value; LangSpec drives this entry point). */
  def scriptValue(spark: SparkSession, src: String,
                  tables: Map[String, DataFrame] = Map.empty): RVal =
      withEvalStack {
    val p = new Parser(src)
    val env = scala.collection.mutable.Map[String, RVal](
      tables.map { case (k, v) => k -> (VTab(v): RVal) }.toSeq: _*)
    val out = new StringBuilder
    var last: RVal = VAtom(null)
    p.skipWs()
    while (!p.eof) {
      last = evalScript(spark, p.parseExpr(), env, _ => (), out)
      p.skipWs()
    }
    last
  }

  // ------------------------------------------------------ script values

  /** Script-environment values: tables (distributed), plus driver-side
    * atoms and vectors for the generation/index expressions reference
    * scripts build tables from ((til n), (take x n), literals…). */
  /** Sentinel for [[VVec.wireTag]]: no recorded wire repr — serde
    * infers the vector tag from the element types (the default). */
  val InferWireTag: Int = Int.MinValue

  sealed trait RVal
  final case class VTab(df: DataFrame) extends RVal
  /** `wireTag` is a serde-only repr hint OUTSIDE the case-class
    * parameter list (excluded from equals/unapply — the one-repr value
    * semantics are untouched): the reference distinguishes a general
    * LIST (serde tag 0) from the typed vector the element types would
    * infer, so `de` records the wire tag it read ([[VVec.tagged]]) and
    * `ser` re-emits a LIST when the value arrived as one
    * (core/serde.c:166-299 layouts — SURVEY §1.2's strings-vs-symbols
    * caveat, closed for vectors). [[Rayfall.InferWireTag]] (the
    * default) = infer from the elements. */
  final case class VVec(xs: Vector[Any]) extends RVal {
    private[graft] var wireTag: Int = InferWireTag
    /** Element positions that are SYMBOLS (serde repr only): a quoted
      * symbol inside a `(list …)` or a decoded native symbol atom in a
      * LIST re-serializes as tag −6 instead of a C8 vector — so
      * `(ser (list 'f 1))` matches the reference's apply-list bytes. */
    private[graft] var symElems: Set[Int] = Set.empty
  }
  object VVec {
    /** A VVec carrying its decoded wire tag (serde repr fidelity). */
    def tagged(xs: Vector[Any], tag: Int): VVec = {
      val v = VVec(xs); v.wireTag = tag; v
    }
  }
  /** `symRepr`: same serde-only hint for string atoms — true means the
    * value is a SYMBOL (serde tag −6: a `'sym` literal or a decoded
    * native symbol atom) and `ser` re-emits tag −6 instead of the C8
    * vector a plain string encodes as. Equality and matching stay on
    * the shared string repr. */
  final case class VAtom(x: Any) extends RVal {
    private[graft] var symRepr: Boolean = false
  }
  object VAtom {
    /** A string atom flagged as a SYMBOL for serde (`'sym` literals,
      * decoded native −6 atoms). */
    def sym(s: String): VAtom = {
      val a = VAtom(s); a.symRepr = true; a
    }
  }
  /** Lazy view of `base` column of a table plus a constant offset —
    * produced by `(at t 'col)` and kept lazy through +/- so the docs'
    * window-join interval construction
    * `(map-left + [lo hi] (at trades 'Ts))` never materializes the
    * column: the bridge reads the offsets straight off the provenance.
    * Materializing (when a driver vector is genuinely required) is
    * size-guarded by [[maxDriverVec]].
    *
    * ORDER CONTRACT: materializing collects WITHOUT an ORDER BY and
    * takes Spark's partition order as the logical row order. That holds
    * for the sources scripts build views from — `tableFromValues`
    * (single-partition driver data) and file scans (stable file order) —
    * but NOT for a table that went through a join/shuffle. Views over
    * shuffled tables must stay lazy (offset provenance) or be aggregated
    * distributed; don't collect them into positional driver vectors. */
  final case class VColView(df: DataFrame, base: String, offset: Long) extends RVal
  /** A lambda VALUE bound with (set f (fn [x…] body)) — applied by name;
    * `self` recurses (reference `examples/fib.rfl:2-7`, core/lambda.c). */
  /** A JVM-native function loaded via `(loadfn class method arity)` —
    * the analog of the reference's dynlib symbols
    * (`core/env.c:262` loadfn → dynlib_loadfn). */
  final case class VNative(name: String, f: Seq[RVal] => RVal) extends RVal

  final case class VFn(params: Seq[String], bodies: List[RExpr]) extends RVal {
    def body: RExpr = bodies.last
  }
  /** A value-journal handle (reference hopen/write/read,
    * `examples/journal.rfl`): an append-only text journal of s-exprs;
    * `read` replays each record through the evaluator. */
  final case class VHandle(path: java.nio.file.Path) extends RVal
  /** An IPC connection handle (reference `hopen "host:port"`,
    * `core/ipc.c:39-527`, `examples/ipc.rfl`): `write` ships a record to
    * the server — the same `(f args…)` application encoding the journal
    * uses — the server evaluates it against its live environment and the
    * VALUE comes back (parseable `valueText`, re-hydrated client-side).
    * The journal write/read pair over a socket. */
  final case class VIpc(id: Long, sock: java.net.Socket,
                        in: java.io.DataInputStream,
                        out: java.io.DataOutputStream,
                        async: Boolean = false) extends RVal
  /** First-class dict value `(dict [k…] vals)` (reference
    * core/compose.c:205, dict literals core/parse.c:784); values may
    * nest dicts/vectors. `key`/`value`/`at` project it. */
  final case class VDict(keys: Vector[String], vals: Vector[Any]) extends RVal
  /** Lazy `spark.range`-backed vector: length `n` plus a Column transform
    * of the range id. `til`/`take`/`concat`/`guid`, broadcast arithmetic
    * and `as`-casts compose on it without materializing, so the reference
    * scripts' 1e7-row generation expressions (`examples/asof.rfl:7-9`,
    * `examples/table.rfl`) become engine-side columns — the Spark analog
    * of the reference building them as engine vectors
    * (`core/compose.c:70-143`) rather than driver values. */
  final case class VRange(n: Long, f: Column => Column) extends RVal

  /** A parsed-but-unevaluated script — what `(parse "src")` returns and
    * `(eval x)` runs (reference ray_parse/ray_eval,
    * `core/io.c:1031-1052`; the reference's parse tree is a LIST
    * object, here the expression list is carried opaquely). */
  final case class VExprs(es: List[RExpr]) extends RVal

  /** Vectors at or above this length are built lazily (below it, driver
    * vectors keep the simple eager semantics the goldens pin). */
  val lazyVecLen: Long = 10000L

  /** Refuse to `collect()` a lazy value bigger than this into the driver
    * (the reference materializes freely — its vectors live in one
    * process; ours are distributed and unbounded). Vector ops that have a
    * distributed plan (rank/xrank/iasc/asc/scan — see lazyVecSort) switch
    * to it above this size instead of erroring. Var so specs can pin the
    * lazy path at test scale (suites run sequentially in the forked JVM). */
  private[graft] var maxDriverVec: Long = 1L << 21

  /** Lift an eager vector into a literal array column (for cycling /
    * positional indexing inside a lazy expression — constant-folds to a
    * single Literal, so the per-row cost is one array access). */
  private def eltArr(xs: Vector[Any]): Column = xs.head match {
    case _: java.lang.Long =>
      typedLit(xs.map(_.asInstanceOf[java.lang.Long].longValue))
    case _: java.lang.Double =>
      typedLit(xs.map(_.asInstanceOf[java.lang.Double].doubleValue))
    case _: String => typedLit(xs.map(_.asInstanceOf[String]))
    case x => throw new IllegalArgumentException(
      s"cannot lift a vector of ${x.getClass.getSimpleName} into an expression")
  }

  /** Cycling element lookup: src(i mod len) as a Column of the range id. */
  private def cycleF(src: Vector[Any], shift: Long): Column => Column = {
    val arr = eltArr(src)
    val len = src.length.toLong
    id => element_at(arr, (pmod(id + lit(shift), lit(len)) + 1).cast("int"))
  }

  /** Deterministic pseudo-guid of the range id (scripts' (guid n); the
    * reference's guids are random — any stable value works, md5 in
    * 8-4-4-4-12 layout keeps it engine-side and reproducible). */
  /** Driver-side mirror of [[guidF]]: md5 of the decimal index in
    * 8-4-4-4-12 layout, so (guid n) yields the SAME value for a given
    * index on both sides of the lazy threshold. */
  private def guidOf(i: Long): String = {
    val m = java.security.MessageDigest.getInstance("MD5")
      .digest(i.toString.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString
    s"${m.substring(0, 8)}-${m.substring(8, 12)}-${m.substring(12, 16)}-" +
      s"${m.substring(16, 20)}-${m.substring(20, 32)}"
  }

  private def guidF(id: Column): Column = {
    val m = md5(id.cast("string"))
    concat(substring(m, 1, 8), lit("-"), substring(m, 9, 4), lit("-"),
      substring(m, 13, 4), lit("-"), substring(m, 17, 4), lit("-"),
      substring(m, 21, 12))
  }

  private def materializeRange(spark: SparkSession, v: VRange): Vector[Any] = {
    require(v.n <= maxDriverVec,
      s"refusing to materialize a ${v.n}-element lazy vector into the driver " +
        s"(max $maxDriverVec)")
    spark.range(v.n).select(v.f(col("id")).as("v"))
      .collect().map(_.get(0): Any).toVector
  }

  /** Length of a lazy vector value (an action for column views — one
    * count per (run, frame) via [[cachedCount]] — consulted on every
    * lazy-op dispatch). */
  private def lazyLen(v: RVal): Option[Long] = v match {
    case VRange(n, _) => Some(n)
    case cv: VColView => Some(cachedCount(cv.df))
    case _ => None
  }

  /** (__rowidx, __v) frame for a lazy vector: positions are contiguous
    * table order (Tbl.withRowIndex — zipWithIndex, no global window), the
    * value column has any integral view offset folded in. */
  private def indexedVec(spark: SparkSession, v: RVal): DataFrame = v match {
    case VRange(n, f) =>
      spark.range(n).select(col("id").as("__rowidx"), f(col("id")).as("__v"))
    case cv: VColView =>
      val base = graft.Tbl.withRowIndex(cv.df.select(col(cv.base).as("__v")))
      if (cv.offset == 0L) base
      else base.withColumn("__v", col("__v").cast("long") + lit(cv.offset))
    case x => throw new IllegalArgumentException(s"not a lazy vector: $x")
  }

  /** Distributed sorts/ranking for lazy vectors past the driver cap —
    * the same plans the query surface uses (q15's ROW_NUMBER rank, but
    * expressed as sort + zipWithIndex so no single-task global window).
    * Results stay lazy (VColView in position order). Semantics mirror
    * evalVecSort exactly: stable ascending permutation, rank[perm[i]]=i
    * (core/order.c:519), xrank bucket = rank*n div len (order.c:598). */
  private def lazyVecSort(spark: SparkSession, op: String, v: RVal): RVal = {
    val src = indexedVec(spark, v)
    def view(df: DataFrame, c: String) = VColView(df.select(col(c).as("__s")), "__s", 0L)
    op match {
      case "asc" => view(src.orderBy(col("__v").asc, col("__rowidx").asc), "__v")
      case "desc" => view(src.orderBy(col("__v").desc, col("__rowidx").asc), "__v")
      case "iasc" => view(src.orderBy(col("__v").asc, col("__rowidx").asc), "__rowidx")
      case "idesc" => view(src.orderBy(col("__v").desc, col("__rowidx").asc), "__rowidx")
      case "reverse" => view(src.orderBy(col("__rowidx").desc), "__v")
      case "rank" => view(lazyRankFrame(src).orderBy(col("__orig").asc), "__s")
    }
  }

  /** (__orig, __s=rank) from an indexed frame: global sort by (value,
    * position) then zipWithIndex — the position in sorted order IS the
    * rank, fully distributed (range-partitioned sort, no 1-task window). */
  private def lazyRankFrame(src: DataFrame): DataFrame =
    graft.Tbl.withRowIndex(
      src.orderBy(col("__v").asc, col("__rowidx").asc)
        .select(col("__rowidx").as("__orig")), "__s")

  /** Distributed xrank for lazy vectors: bucket = rank·n div len. */
  private def lazyXrank(spark: SparkSession, v: RVal, nb: Long, len: Long): RVal = {
    require(nb > 0, s"xrank buckets must be positive, got $nb")
    val ranked = lazyRankFrame(indexedVec(spark, v)).orderBy(col("__orig").asc)
      .select(expr(s"(__s * ${nb}L) div ${len}L").as("__s"))
    VColView(ranked, "__s", 0L)
  }

  /** Cumulative scan for lazy vectors and `+`: the classic two-pass
    * distributed prefix scan — pass 1 collects one partial sum per
    * partition (numPartitions scalars to the driver), pass 2 streams
    * each partition once more with its prefix offset + the seed folded
    * in per the scan recurrence v_i = x_i + v_{i-1}, v_0 = x_0 + seed.
    * No single-task global window, no shuffle: both passes are narrow.
    * Result type follows the driver path's broadcast arithmetic: double
    * when the source or the seed is floating, else i64. */
  private def lazyScan(spark: SparkSession, op: String, v: RVal,
                       seed: Any): RVal = {
    require(op == "+", s"no distributed scan plan for $op")
    val src = indexedVec(spark, v).select(col("__v"))
    val dt = src.schema("__v").dataType
    import org.apache.spark.sql.types.{DoubleType, FloatType, IntegerType, LongType}
    val isDouble = dt == DoubleType || dt == FloatType ||
      seed.isInstanceOf[java.lang.Double] || seed.isInstanceOf[java.lang.Float]
    // read InternalRows off the codegen'd scan (queryExecution.toRdd) —
    // the Row-encoder path (`src.rdd`) costs ~80 ms / 1e5 rows just in
    // per-Row conversion (same idiom as GroupKernel.encode)
    val tag = dt match {
      case DoubleType => 0; case FloatType => 1
      case LongType => 2; case IntegerType => 3
      case x => throw new IllegalArgumentException(s"no scan plan for $x vector")
    }
    val rdd = src.queryExecution.toRdd
    type IR = org.apache.spark.sql.catalyst.InternalRow
    def getD(r: IR): Double = tag match {
      case 0 => r.getDouble(0); case 1 => r.getFloat(0).toDouble
      case 2 => r.getLong(0).toDouble; case _ => r.getInt(0).toDouble
    }
    def getL(r: IR): Long =
      if (tag == 2) r.getLong(0) else r.getInt(0).toLong
    def numOf(x: Any): Double = x match {
      case l: java.lang.Long => l.toDouble
      case i: java.lang.Integer => i.toDouble
      case f: java.lang.Float => f.toDouble
      case d: java.lang.Double => d
    }
    if (isDouble) {
      val seedD = numOf(seed)
      val partials = rdd.mapPartitionsWithIndex { (i, it) =>
        var s = 0.0; it.foreach(r => s += getD(r))
        Iterator((i, s))
      }.collect().sortBy(_._1).map(_._2)
      val offsets = partials.scanLeft(0.0)(_ + _)
      val out = rdd.mapPartitionsWithIndex { (i, it) =>
        var acc = offsets(i) + seedD
        it.map { r => acc += getD(r)
          new org.apache.spark.sql.catalyst.expressions
            .GenericInternalRow(Array[Any](acc)): IR }
      }
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("__s", DoubleType)))
      VColView(org.apache.spark.sql.graftshim.ColumnInternals
        .internalDataFrame(spark, schema, out), "__s", 0L)
    } else {
      def longOf(x: Any): Long = x match {
        case l: java.lang.Long => l
        case i: java.lang.Integer => i.toLong
      }
      val seedL = longOf(seed)
      val partials = rdd.mapPartitionsWithIndex { (i, it) =>
        var s = 0L; it.foreach(r => s += getL(r))
        Iterator((i, s))
      }.collect().sortBy(_._1).map(_._2)
      val offsets = partials.scanLeft(0L)(_ + _)
      val out = rdd.mapPartitionsWithIndex { (i, it) =>
        var acc = offsets(i) + seedL
        it.map { r => acc += getL(r)
          new org.apache.spark.sql.catalyst.expressions
            .GenericInternalRow(Array[Any](acc)): IR }
      }
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("__s", LongType)))
      VColView(org.apache.spark.sql.graftshim.ColumnInternals
        .internalDataFrame(spark, schema, out), "__s", 0L)
    }
  }

  /** Column-level mirror of the script's broadcast arithmetic (Euclidean
    * `/` `%` — the same ops the query translator uses). */
  private def colOp(op: String, a: Column, b: Column): Column = op match {
    case "+" => a + b
    case "-" => a - b
    case "*" => a * b
    case "/" => RF.euclidDiv(a, b)
    case "%" => RF.euclidMod(a, b)
    // `div` is REAL division, always f64, null divisor/zero → null
    // (tests/lang.c:2081-2430; `/` is the floor-dividing one here)
    case "div" => when(b === 0, lit(null))
      .otherwise(a.cast("double") / b.cast("double"))
    // (xbar VALUE bar) floors to a multiple of the bar
    case "xbar" => RF.xbar(b, a)
    case ">" => a > b
    case "<" => a < b
    case ">=" => a >= b
    case "<=" => a <= b
    case "==" | "=" => a === b
    case "!=" => a =!= b
    case x => throw new IllegalArgumentException(s"unknown lazy op $x")
  }

  /** Value-level `(as 'TYPE x)`: TIME/TIMESTAMP are identities under the
    * repo's millis/nanos-as-long convention; other casts apply lazily on
    * ranges and eagerly on atoms/vectors. */
  /** `(as 'timestamp "…")` — every string form the reference accepts
    * (`tests/lang.c:4004-4062`): ISO date / date-time with space or `T`,
    * 1-9 fractional digits, `Z` / `±HH:MM` / `±HHMM` offsets (converted
    * to UTC), and the engine's own `yyyy.mm.ddDHH:MM:SS.fffffffff`.
    * Result is nanos-since-epoch (the repo's TIMESTAMP convention). */
  private val tsIso = ("""(\d{4})[-.](\d{2})[-.](\d{2})""" +
    """(?:[ TD](\d{2}):(\d{2}):(\d{2})(?:\.(\d{1,9}))?""" +
    """(Z|[+-]\d{2}:?\d{2})?)?""").r
  private[rayfall] def parseTimestampNs(s: String): java.lang.Long =
    s.trim match {
      case tsIso(y, mo, d, hh, mi, ss, frac, off) =>
        val days = java.time.LocalDate.of(y.toInt, mo.toInt, d.toInt).toEpochDay
        val secs = if (hh == null) 0L
          else hh.toLong * 3600 + mi.toLong * 60 + ss.toLong
        val ns = if (frac == null) 0L else frac.padTo(9, '0').toLong
        val offSecs = off match {
          case null | "Z" => 0L
          case o =>
            val sign = if (o.head == '-') -1L else 1L
            val hm = o.tail.replace(":", "")
            sign * (hm.take(2).toLong * 3600 + hm.drop(2).toLong * 60)
        }
        java.lang.Long.valueOf((days * 86400L + secs - offSecs) * 1000000000L + ns)
      case other =>
        throw new IllegalArgumentException(s"bad timestamp string '$other'")
    }

  private def valueCast(spark: SparkSession, t: String, v: RVal): RVal =
    t.toUpperCase match {
      case "TIMESTAMP" => v match {
        case VAtom(s: String) => VAtom(parseTimestampNs(s))
        case VVec(xs) => VVec(xs.map {
          case s: String => parseTimestampNs(s): Any
          case x => x
        })
        case other => other // longs already ARE ns under the convention
      }
      case "TIME" => v
      case tu =>
        val target = castTargets.getOrElse(tu,
          throw new IllegalArgumentException(s"unknown cast type '$t"))
        def atom(x: Any): Any = (target, x) match {
          case (_, null) => null
          case ("string", v) => v.toString
          case ("double", l: java.lang.Long) => java.lang.Double.valueOf(l.doubleValue)
          case ("double", d: java.lang.Double) => d
          // string → number parses with trim (lang.c:47, :54)
          case ("double", s: String) => java.lang.Double.valueOf(s.trim.toDouble)
          case ("bigint" | "int" | "smallint" | "tinyint", s: String) =>
            java.lang.Long.valueOf(s.trim.toLong)
          case ("bigint" | "int" | "smallint" | "tinyint", d: java.lang.Double) =>
            java.lang.Long.valueOf(d.toLong)
          case ("boolean", l: java.lang.Long) =>
            java.lang.Boolean.valueOf(l != 0L)
          // b8 <- f64 / String: nonzero / nonempty → true
          // (tests/lang.c:4600-4623)
          case ("boolean", d: java.lang.Double) =>
            java.lang.Boolean.valueOf(d != 0.0)
          case ("boolean", s: String) =>
            java.lang.Boolean.valueOf(s.nonEmpty)
          // numeric <- b8: false/true → 0/1 (tests/lang.c:4632-4668)
          case ("bigint" | "int" | "smallint" | "tinyint", b: java.lang.Boolean) =>
            java.lang.Long.valueOf(if (b) 1L else 0L)
          case ("double", b: java.lang.Boolean) =>
            java.lang.Double.valueOf(if (b) 1.0 else 0.0)
          case (_, v) => v
        }
        v match {
          case VRange(n, f) => VRange(n, id => f(id).cast(target))
          case VAtom(x) => VAtom(atom(x))
          case VVec(xs) => VVec(xs.map(atom))
          case cv: VColView => VVec(materialize(cv).map(atom))
          case x => throw new IllegalArgumentException(s"cannot cast $x")
        }
    }

  /** Per-script-run memo of driver-side pulls (r19 — the TimeOpt b
    * column found r09 issuing 23 jobs for 0.5 s of stage time: every
    * `(rank v)`/`(xrank v n)`/table-literal leg re-collected its
    * column and re-counted its frame). Both maps live in ThreadLocals
    * consulted ONLY on the dedicated eval thread: [[withEvalStack]]
    * starts a FRESH thread per outermost script entry, so the memo
    * dies with the run — nothing is ever carried across invocations
    * (that would be result caching). Keys are the DataFrame REFERENCE
    * (IdentityHashMap — identityHashCode alone is not unique, the
    * SessionMemo lesson); DataFrames are immutable, and any script
    * mutation (insert/update/set) produces a NEW frame, so a reference
    * hit is always the same logical column. */
  private val runPulls = new ThreadLocal[java.util.IdentityHashMap[
      DataFrame, java.util.HashMap[(String, Long), Vector[Any]]]] {
    override def initialValue() = new java.util.IdentityHashMap()
  }
  private val runCounts =
    new ThreadLocal[java.util.IdentityHashMap[DataFrame, java.lang.Long]] {
      override def initialValue() = new java.util.IdentityHashMap()
    }
  private def onEvalThread: Boolean =
    Thread.currentThread().getName == evalThreadName

  /** Drop the per-run pull/count memos. script/scriptValue entries get
    * this for free (their eval thread dies with the run), but the REPL
    * loops run a whole SESSION on one eval thread — without a
    * per-command clear the memos would pin every touched column vector
    * and DataFrame for the session's life (the r19 self-review
    * finding). */
  private def clearRunMemos(): Unit = { runPulls.remove(); runCounts.remove() }

  /** One count per (run, frame) instead of one per lazy-op dispatch. */
  private def cachedCount(df: DataFrame): Long =
    if (!onEvalThread) df.count()
    else {
      val c = runCounts.get()
      val hit = c.get(df)
      if (hit != null) hit.longValue
      else { val n = df.count(); c.put(df, n); n }
    }

  /** Collects in partition order — see the VColView ORDER CONTRACT. */
  private def materialize(v: VColView): Vector[Any] =
    if (!onEvalThread) materializeFresh(v)
    else {
      val byDf = runPulls.get()
      var cols = byDf.get(v.df)
      if (cols == null) { cols = new java.util.HashMap(); byDf.put(v.df, cols) }
      val key = (v.base, v.offset)
      val hit = cols.get(key)
      if (hit != null) hit
      else { val r = materializeFresh(v); cols.put(key, r); r }
    }

  private def materializeFresh(v: VColView): Vector[Any] = {
    // ONE job: pull up to cap+1 rows (CollectLimitExec walks partitions
    // in order, so ≤-cap results are the exact partition-order collect)
    // and fail on overflow AFTER, instead of a separate count() job
    // before every collect
    val capPlus = math.min(maxDriverVec + 1, Int.MaxValue.toLong).toInt
    val xs = v.df.select(col(v.base)).limit(capPlus)
      .collect().map(_.get(0)).toVector
    require(xs.length <= maxDriverVec,
      s"refusing to materialize a >$maxDriverVec-row column '${v.base}' " +
        "into the driver; keep it lazy or aggregate it distributed")
    if (v.offset == 0L) xs
    else xs.map {
      case l: java.lang.Long => java.lang.Long.valueOf(l + v.offset): Any
      case i: java.lang.Integer => java.lang.Long.valueOf(i.longValue + v.offset): Any
      case x => throw new IllegalArgumentException(
        s"non-integral column '${v.base}' under offset ${v.offset}: $x")
    }
  }

  // ------------------------------------------------ generic value storage

  /** Render a VALUE as a parseable script s-expr (the text side of the
    * generic set/get — reference `ray_set` of any object,
    * core/binary.c:317; symbols and strings share one repr here, so
    * both come back as strings, SURVEY §1.2). */
  private def valueText(v: RVal): String = v match {
    case VAtom(null) => "null"
    case VAtom(l: java.lang.Long) => l.toString
    case VAtom(d: java.lang.Double) => new java.math.BigDecimal(d).toPlainString
    case VAtom(b: java.lang.Boolean) => b.toString
    case VAtom(s: String) =>
      "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    case VAtom(d: java.time.LocalDate) =>
      f"${d.getYear}%04d.${d.getMonthValue}%02d.${d.getDayOfMonth}%02d"
    case VAtom(d: java.sql.Date) => valueText(VAtom(d.toLocalDate))
    case VVec(xs) => xs.map {
      case r: RVal => valueText(r)
      case x => valueText(VAtom(x))
    }.mkString("(list ", " ", ")")
    case VDict(ks, vs) =>
      s"(dict [${ks.mkString(" ")}] " +
        vs.map { case r: RVal => valueText(r); case x => valueText(VAtom(x)) }
          .mkString("(list ", " ", ")") + ")"
    case VFn(ps, bodies) =>
      s"(fn [${ps.mkString(" ")}] ${bodies.map(exprText).mkString(" ")})"
    // tables/column views serialize as their literal forms, like the
    // reference's serde of any object (core/serde.c). ser is a VALUE
    // operation: the whole object round-trips through the driver, so it
    // is bounded by the same driver-vector cap as other materializations
    // (persist unbounded tables with set/get-splayed instead).
    case VTab(df) =>
      val n = df.count()
      require(n <= maxDriverVec, s"ser: table too large ($n rows, max " +
        s"$maxDriverVec); use set/set-splayed for distributed persistence")
      val rows = df.collect()
      val cols = df.columns.indices.map { i =>
        rows.map(r => valueText(VAtom(r.get(i))))
          .mkString("(list ", " ", ")") }
      s"(table [${df.columns.mkString(" ")}] (list ${cols.mkString(" ")}))"
    case cv: VColView => valueText(VVec(materialize(cv)))
    case VAtom(i: java.lang.Integer) => i.toString
    case x => throw new IllegalArgumentException(s"cannot persist $x as text")
  }

  /** Print an RExpr back to source (lambda bodies under set/get). */
  private[rayfall] def exprText(e: RExpr): String = e match {
    case RNum(_, true, l) => l.toString
    case RNum(v, false, _) => new java.math.BigDecimal(v).toPlainString
    case RNull => "0Nl"
    case RDate(d) =>
      f"${d.getYear}%04d.${d.getMonthValue}%02d.${d.getDayOfMonth}%02d"
    case RStr(s) => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    case RSym(n) => n
    case RQuote(n) => s"'$n"
    case RList(items) => items.map(exprText).mkString("(", " ", ")")
    case RVec(items) => items.map(exprText).mkString("[", " ", "]")
    case RDict(pairs) => pairs.map { case (k, v) => s"$k: ${exprText(v)}" }
      .mkString("{", " ", "}")
  }

  /** `(set "path" v)`: tables → splayed parquet; vectors → indexed
    * single-value parquet (a LAZY vector writes distributed — the 1e7
    * generation expressions persist with zero driver materialization);
    * atoms/dicts/lambdas → s-expr text. */
  private def setPath(spark: SparkSession, path: String, v: RVal): Unit =
    v match {
      case VTab(df) => graft.sources.Store.setSplayed(df, path)
      case VRange(n, f) =>
        graft.sources.Store.setVector(
          spark.range(n).select(col("id").as("__i"), f(col("id")).as("__v")),
          path)
      case cv: VColView =>
        // partition-order index (see the VColView ORDER CONTRACT)
        val base = cv.df.select(col(cv.base).as("__v"))
          .withColumn("__i", monotonically_increasing_id())
        val adj =
          if (cv.offset == 0L) base
          else base.withColumn("__v", col("__v") + cv.offset)
        graft.sources.Store.setVector(adj.select("__i", "__v"), path)
      case VVec(xs) if xs.nonEmpty && !xs.exists(_.isInstanceOf[RVal]) &&
          (xs.forall(_.isInstanceOf[java.lang.Long]) ||
            xs.forall(_.isInstanceOf[java.lang.Double]) ||
            xs.forall(_.isInstanceOf[String])) =>
        import spark.implicits._
        val df = xs.head match {
          case _: java.lang.Long => xs.zipWithIndex.map { case (x, i) =>
            (i.toLong, x.asInstanceOf[java.lang.Long].longValue) }
            .toDF("__i", "__v")
          case _: java.lang.Double => xs.zipWithIndex.map { case (x, i) =>
            (i.toLong, x.asInstanceOf[java.lang.Double].doubleValue) }
            .toDF("__i", "__v")
          case _ => xs.zipWithIndex.map { case (x, i) =>
            (i.toLong, x.asInstanceOf[String]) }.toDF("__i", "__v")
        }
        graft.sources.Store.setVector(df, path)
      case other =>
        // driver-value objects (atoms/dicts/lambdas/small mixed lists)
        // persist as the reference's binary ser file — `(set "path" v)`
        // writes ser_obj bytes (core/binary.c:85-93), so a native peer
        // can read this file and vice versa
        java.nio.file.Files.write(java.nio.file.Paths.get(path),
          RaySerde.serialize(other))
    }

  /** `(get "path")`: directory = parquet (indexed value column → vector,
    * anything else → table); file = a binary ser frame (0xcefadefa
    * magic — the reference's on-disk object format) or, for files from
    * earlier rounds, s-expr text re-evaluated. A large persisted vector
    * comes back LAZY (a column view), not a driver vector. */
  private def getPath(spark: SparkSession, path: String): RVal = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.isDirectory(p)) {
      val df = spark.read.parquet(path)
      if (df.columns.sorted.toSeq == Seq("__i", "__v")) {
        val ordered = df.orderBy("__i")
        val n = ordered.count()
        if (n < lazyVecLen)
          VVec(ordered.select("__v").collect().map(_.get(0)).toVector)
        else VColView(ordered, "__v", 0L)
      } else VTab(df)
    } else {
      val bytes = java.nio.file.Files.readAllBytes(p)
      if (bytes.length >= 4 && (bytes(0) & 0xff) == 0xfa &&
          (bytes(1) & 0xff) == 0xde && (bytes(2) & 0xff) == 0xfa &&
          (bytes(3) & 0xff) == 0xce)
        RaySerde.deserialize(spark, bytes)
      else evalScript(spark, new Parser(new String(bytes, "UTF-8")).parseExpr(),
        scala.collection.mutable.Map.empty, _ => ())
    }
  }

  /** Evaluate a SCRIPT: a sequence of top-level forms in the reference's
    * `.rfl` style (the scripts under `/root/reference/examples/` run
    * verbatim — see DocsSpec). Supported surface:
    *
    *  - `(set name form)` — bind any value (also usable inline);
    *  - `(table [cols…] (list col…))` — table from value vectors
    *    (`core/compose.c:217`);
    *  - value forms: literals (incl. `HH:MM:SS.mmm` TIME), `til`, `take`
    *    (atom-repeat / cycling), `concat`, `list`, broadcast arithmetic
    *    and comparisons (Euclidean integer division), `(as 'TIME x)`
    *    (millis identity), `(at t 'col)`, `count`, vector
    *    `sum`/`min`/`max`/`avg`;
    *  - lambdas `((fn [x…] body) …)` and the iteration combinators
    *    `map`/`pmap`/`map-left`/`map-right`/`filter`/`fold`
    *    (`core/iter.c`);
    *  - `show`/`println` (display no-ops that still evaluate args),
    *    `(timeit form)` (ms), `(if c e)`, `(nil? x)`, `(resolve 'n)`;
    *  - in-place quoted forms: `(insert 't …)`, `(update {from: 't …})`,
    *    `(upsert 't n s)`, `(alter 't fn 'col v)` rebind the env;
    *  - every table/query form from [[eval]].
    *
    * Returns the last table-valued result; `tables` seeds the env.
    */
  def script(spark: SparkSession, src: String,
             tables: Map[String, DataFrame] = Map.empty): DataFrame = {
    val (last, _) = scriptCapture(spark, src, tables)
    last.getOrElse(throw new IllegalArgumentException(
      "script produced no table"))
  }

  /** Run a script and also return what it printed (println/show render
    * through the reference's %-placeholder formatting — the docs pin
    * script output as tests, `docs/tests/test_docs.py`). The table result
    * is optional: display-only scripts (examples/iter.rfl) are valid. */
  def scriptCapture(spark: SparkSession, src: String,
                    tables: Map[String, DataFrame] = Map.empty)
      : (Option[DataFrame], String) = withEvalStack {
    val p = new Parser(src)
    val env = scala.collection.mutable.Map[String, RVal](
      tables.map { case (k, v) => k -> (VTab(v): RVal) }.toSeq: _*)
    // the "result" is the most recently produced table at ANY depth —
    // reference scripts often do their final work nested, e.g.
    // (println "…" (timeit (set aj (asof-join …))))
    var last: DataFrame = null
    val hook: DataFrame => Unit = df => last = df
    val out = new StringBuilder
    p.skipWs()
    while (!p.eof) {
      evalScript(spark, p.parseExpr(), env, hook, out)
      p.skipWs()
    }
    (Option(last), out.toString)
  }

  /** Interactive REPL over the script evaluator — the `app/repl.c`
    * surface: a persistent environment across inputs (so `(set x …)` on
    * one line is visible on the next), paren-balanced multi-line form
    * accumulation (the reference terminal's multiline mode,
    * `app/term.c`), each complete form evaluated and its value printed
    * (errors print without killing the session, like `repl_on_data`
    * routing IS_ERR to stderr). EOF ends the loop; piped input thus
    * behaves as the reference's oneshot mode. Tables print their first
    * rows; everything else prints through the same renderer scripts'
    * `show` uses. */
  /** The reference's table renderer (table_fmt_into,
    * core/format.c:1039-1353), shared by both REPL front-ends:
    * box-drawing borders, CENTERED column-name and type header rows,
    * left-aligned cells, a head-half/tail-half split with a `┆ … ┆` row
    * when truncated, a hidden-column `… ` gutter past 10 columns, and
    * the ` N rows (n shown) M columns (m shown)` footer (the last
    * column widens to fit it, earlier columns floor at 4 —
    * format.c:1157-1170). REPL caps: 10 columns × 20 rows
    * (TABLE_MAX_WIDTH/HEIGHT, format.c:49-50); `replCaps = false` is
    * the uncapped full==2 mode. */
  /** Journal format per absolute path (isText, size, mtimeMillis),
    * sniffed on the first append to a non-empty file — see the write
    * handler. (size, mtime) guard staleness: the verdict is reused
    * ONLY when both still match the file — our own appends refresh the
    * pair after each write, so any external replacement (even a
    * same-path rewrite in the OTHER format that is equal-or-larger)
    * re-sniffs; hclose also drops the entry. */
  private val journalTextSniff =
    new java.util.concurrent.ConcurrentHashMap[String, (Boolean, Long, Long)]

  private[graft] def tableText(df: DataFrame,
                                 replCaps: Boolean = true): String = {
    import org.apache.spark.sql.types._
    val totalRows = df.count()
    val totalCols = df.columns.length
    if (totalCols == 0) return "@table"
    // the uncapped (show) mode materializes every row driver-side —
    // same cap discipline as `ser` (maxDriverVec) rather than an OOM
    if (!replCaps) require(totalRows <= maxDriverVec,
      s"show: table too large to render ($totalRows rows)")
    val showCols = if (replCaps) math.min(totalCols, 10) else totalCols
    val showRows: Int =
      if (replCaps) math.min(totalRows, 20L).toInt else totalRows.toInt
    val hiddenCols = showCols < totalCols
    val truncated = showRows < totalRows
    val names = df.columns.take(showCols).toSeq
    def typeName(dt: DataType): String = dt match {
      case LongType | IntegerType | ShortType => "I64"
      case DoubleType | FloatType | _: DecimalType => "F64"
      case BooleanType => "B8"
      case StringType => "SYMBOL"
      case DateType => "DATE"
      case TimestampType | TimestampNTZType => "TIMESTAMP"
      case BinaryType => "U8"
      case _ => "LIST"
    }
    val types = df.schema.fields.take(showCols).map(f => typeName(f.dataType))
    // head half from the top, the rest from the bottom (format.c:1118-1146)
    val headN = if (truncated) showRows / 2 else showRows
    val tailN = showRows - headN
    val projected = df.select(names.map(org.apache.spark.sql.functions.col): _*)
    val rows: Array[org.apache.spark.sql.Row] =
      if (truncated) projected.limit(headN).collect() ++ projected.tail(tailN)
      else projected.limit(showRows).collect()
    val cells: Array[Array[String]] = rows.map(r => names.indices.map { i =>
      r.get(i) match {
        case null => "nil"
        case v => render(VAtom(v))
      }
    }.toArray)
    val widths = names.indices.map { i =>
      val w = (Seq(names(i).length, types(i).length) ++
        cells.map(_(i).length)).max
      w + 2
    }.toArray
    var totalWidth = widths.sum + showCols - 1
    val footer = s" $totalRows rows ($showRows shown) " +
      s"$totalCols columns ($showCols shown)"
    if (totalWidth < footer.length) {
      widths(showCols - 1) += footer.length - totalWidth
      totalWidth = footer.length
      names.indices.dropRight(1).foreach { i =>
        if (widths(i) < 4) { totalWidth += 4 - widths(i); widths(i) = 4 }
      }
    }
    if (hiddenCols) totalWidth += 4
    val sb = new StringBuilder
    def border(l: String, mid: String, r: String): Unit = {
      sb ++= l
      names.indices.foreach { i =>
        sb ++= "─" * widths(i)
        sb ++= (if (i < showCols - 1 || hiddenCols) mid else r)
      }
      if (hiddenCols) { sb ++= "───"; sb ++= r }
      sb += '\n'
    }
    def centeredRow(vals: Seq[String]): Unit = {
      sb ++= "│"
      names.indices.foreach { i =>
        val lp = (widths(i) - vals(i).length) / 2
        sb ++= " " * lp
        sb ++= vals(i)
        sb ++= " " * (widths(i) - vals(i).length - lp)
        sb ++= "│"
      }
      if (hiddenCols) sb ++= " … │"
      sb += '\n'
    }
    border("┌", "┬", "┐")
    centeredRow(names)
    centeredRow(types.toSeq)
    border("├", "┼", "┤")
    cells.zipWithIndex.foreach { case (row, j) =>
      if (truncated && j == showRows / 2) { // the missing-rows marker
        sb ++= "┆"
        names.indices.foreach { i =>
          sb ++= " …"; sb ++= " " * (widths(i) - 2); sb ++= "┆"
        }
        if (hiddenCols) sb ++= " … ┆"
        sb += '\n'
      }
      sb ++= "│"
      names.indices.foreach { i =>
        sb ++= " "; sb ++= row(i)
        sb ++= " " * (widths(i) - row(i).length - 1)
        sb ++= "│"
      }
      if (hiddenCols) sb ++= " … │"
      sb += '\n'
    }
    border("├", "┴", "┤")
    sb ++= "│"; sb ++= footer
    sb ++= " " * (totalWidth - footer.length); sb ++= "│\n"
    sb ++= "└"; sb ++= "─" * totalWidth; sb ++= "┘"
    sb.toString
  }

  def repl(spark: SparkSession, tables: Map[String, DataFrame],
           in: java.io.BufferedReader, out: java.io.PrintStream,
           prompt: Boolean = true): Unit = withEvalStack {
    val env = scala.collection.mutable.Map[String, RVal](
      tables.map { case (k, v) => k -> (VTab(v): RVal) }.toSeq: _*)
    // net paren balance with string/comment awareness — a form is
    // complete when the accumulated text closes every list it opens
    def balance(s: String): Int = {
      var depth = 0; var i = 0; var inStr = false; var inCom = false
      while (i < s.length) {
        val c = s.charAt(i)
        if (inStr) {
          if (c == '\\') i += 1
          else if (c == '"') inStr = false
        } else if (inCom) { if (c == '\n') inCom = false }
        else c match {
          case '"' => inStr = true
          case ';' => inCom = true
          case '(' | '[' | '{' => depth += 1
          case ')' | ']' | '}' => depth -= 1
          case _ => ()
        }
        i += 1
      }
      depth
    }
    val pending = new StringBuilder
    if (prompt) { out.print("rayfall> "); out.flush() }
    var line = in.readLine()
    while (line != null) {
      pending.append(line).append('\n')
      val src = pending.toString
      if (src.trim.isEmpty) pending.clear()
      else if (balance(src) <= 0) {
        pending.clear()
        try {
          clearRunMemos() // one command = one run (memo scope)
          val p = new Parser(src)
          p.skipWs()
          while (!p.eof) {
            val sb = new StringBuilder
            val v = evalScript(spark, p.parseExpr(), env, _ => (), sb)
            if (sb.nonEmpty) out.print(sb)
            v match {
              case VTab(df) => out.println(tableText(df))
              case VAtom(null) => () // display forms already printed
              case other => out.println(render(other))
            }
            p.skipWs()
          }
        } catch {
          case e: Exception => out.println(
            s"error: ${Option(e.getMessage).getOrElse(e.toString)}")
        }
      }
      if (prompt) {
        out.print(if (pending.nonEmpty) "       … " else "rayfall> ")
        out.flush()
      }
      line = in.readLine()
    }
  }

  /** The reference's registry names (core/env.c init_keywords:334-356,
    * init_functions:123-331) — the terminal editor's highlight and
    * completion universe (env_get_internal_keyword_name /
    * env_get_internal_function_name). */
  val builtinKeywords: Seq[String] = Seq(
    "fn", "do", "set", "self", "let", "take", "by", "from", "where", "sym")
  val builtinFunctions: Seq[String] = Seq(
    "alter", "and", "apply", "args", "as", "asc", "asof-join", "at", "avg",
    "bin", "binr", "ceil", "concat", "count", "date", "de", "desc", "dev",
    "dict", "distinct", "div", "diverse", "enlist", "enum", "env", "eval",
    "except", "exit", "filter", "find", "first", "floor", "fold",
    "fold-left", "fold-right", "format", "gc", "get", "get-parted",
    "get-splayed", "group", "guid", "hclose", "hopen", "iasc", "idesc",
    "if", "in", "inner-join", "insert", "internals", "key", "last",
    "left-join", "like", "list", "load", "loadfn", "map", "map-left",
    "map-right", "max", "med", "memstat", "meta", "min", "modify", "neg",
    "nil?", "not", "or", "os-get-var", "os-set-var", "parse", "pmap",
    "print", "println", "quote", "raise", "rand", "rank", "raze", "rc",
    "read", "read-csv", "remove", "resolve", "return", "reverse", "round",
    "row", "scan", "scan-left", "scan-right", "sect", "select", "ser",
    "show", "split", "sum", "sysinfo", "system", "table", "til", "time",
    "timeit", "timer", "timestamp", "try", "type", "unify", "union",
    "update", "upsert", "value", "window-join", "window-join1", "within",
    "write", "write-csv", "xasc", "xbar", "xdesc", "xrank")

  /** The TERMINAL REPL — the `app/term.c` front-end: raw input bytes
    * drive the [[Term]] line editor (history, multi-line continuation,
    * syntax highlight, TAB completion, `:q`/`:t`/`:?` commands); each
    * completed balanced form evaluates against the persistent env like
    * [[repl]]. The caller owns raw mode (graft.Run shells out to
    * `stty raw -echo`, the JVM analog of term_create's termios setup,
    * app/term.c:621-683); output newlines are emitted as CRLF because
    * raw mode disables output post-processing. */
  def termRepl(spark: SparkSession, tables: Map[String, DataFrame],
               in: java.io.InputStream, out: java.io.PrintStream,
               histPath: Option[java.nio.file.Path] = None): Unit =
    withEvalStack {
      val env = scala.collection.mutable.Map[String, RVal](
        tables.map { case (k, v) => k -> (VTab(v): RVal) }.toSeq: _*)
      var running = true
      var timeitOn = false
      def raw(s: String): Unit = {
        out.print(s.replace("\n", "\r\n")); out.flush()
      }
      val term = new Term(
        // raw mode disables output post-processing, so the editor's own
        // newlines (submission, :t/:? messages) need the CR too
        write = s => { out.print(s.replace("\n", "\r\n")); out.flush() },
        keywords = () => builtinKeywords,
        functions = () => builtinFunctions,
        globals = () => env.keys.toSeq.sorted,
        histPath = histPath,
        width = sys.env.get("COLUMNS").flatMap(_.toIntOption).getOrElse(80),
        onExit = _ => running = false,
        onTimeit = on => timeitOn = on)
      term.prompt()
      var b = in.read()
      while (running && b >= 0) {
        term.feed(b) match {
          case Some(src) =>
            val t0 = System.nanoTime()
            try {
              clearRunMemos() // one command = one run (memo scope)
              val p = new Parser(src)
              p.skipWs()
              while (!p.eof) {
                val sb = new StringBuilder
                val v = evalScript(spark, p.parseExpr(), env, _ => (), sb)
                if (sb.nonEmpty) raw(sb.toString)
                v match {
                  case VTab(df) => raw(tableText(df) + "\n")
                  case VAtom(null) => ()
                  case other => raw(render(other) + "\n")
                }
                p.skipWs()
              }
            } catch {
              case e: Exception => raw(
                s"error: ${Option(e.getMessage).getOrElse(e.toString)}\n")
            }
            if (timeitOn)
              raw(s"${(System.nanoTime() - t0) / 1000000L} ms\n")
            if (running) term.prompt()
          case None => ()
        }
        if (running) b = in.read()
      }
    }

  // ------------------------------------------------------------- args

  /** Parse a command line into the reference's argument dict
    * (`core/runtime.c:40` `parse_cmdline`, surfaced by `(args)` —
    * `core/vary.c:139`): `-f/--file`, `-p/--port`, `-c/--cores`,
    * `-t/--timeit` take a value; `-i/--interactive` is boolean ("1");
    * the first bare argument is the file; `--` switches to user-defined
    * `-flag value` pairs collected under `uargs` as a nested dict.
    * Malformed lines raise (the reference prints usage and exits). */
  def parseCmdline(argv: Seq[String]): VDict = {
    var keys = Vector.empty[String]; var vals = Vector.empty[Any]
    var uk = Vector.empty[String]; var uv = Vector.empty[Any]
    var fileHandled = false; var userDefined = false
    var i = 0
    def value(flag: String): String = {
      i += 1
      if (i >= argv.length) throw new RayfallError(s"-$flag needs a value")
      argv(i)
    }
    while (i < argv.length) {
      val a = argv(i)
      if (a.startsWith("-") && a.length > 1) {
        val flag = a.drop(1)
        if (!userDefined && (flag == "f" || flag == "-file")) {
          keys :+= "file"; vals :+= value(flag); fileHandled = true
        } else if (!userDefined && (flag == "p" || flag == "-port")) {
          keys :+= "port"; vals :+= value(flag)
        } else if (!userDefined && (flag == "c" || flag == "-cores")) {
          keys :+= "cores"; vals :+= value(flag)
        } else if (!userDefined && (flag == "t" || flag == "-timeit")) {
          keys :+= "timeit"; vals :+= value(flag)
        } else if (!userDefined && (flag == "i" || flag == "-interactive")) {
          keys :+= "interactive"; vals :+= "1"
        } else if (flag == "-") {
          userDefined = true
        } else if (userDefined) {
          uk :+= flag; uv :+= value(flag)
        } else throw new RayfallError(s"unknown flag -$flag")
      } else if (!fileHandled) {
        keys :+= "file"; vals :+= a; fileHandled = true
      } else throw new RayfallError(s"unexpected argument $a")
      i += 1
    }
    if (uk.nonEmpty) { keys :+= "uargs"; vals :+= VDict(uk, uv) }
    VDict(keys, vals)
  }

  @volatile private var cliArgs: VDict = VDict(Vector.empty, Vector.empty)

  /** Register the process argv for `(args)` (entry points call this). */
  def setCliArgs(argv: Seq[String]): Unit = cliArgs = parseCmdline(argv)

  // -------------------------------------------------------------- IPC

  /** A running IPC server (the `rayforce -p <port>` surface). `port` is
    * the bound port (useful when 0 requested an ephemeral one). */
  final class IpcServer private[rayfall] (val port: Int,
                                          ss: java.net.ServerSocket) {
    def stop(): Unit = try ss.close() catch { case _: Exception => () }
  }

  private val ipcClientSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  /** An IPC apply-message argument VALUE as a literal expression — the
    * server applies args as values (eval_obj semantics), never as code.
    * Shared by server dispatch and the client's pre-flight check, so an
    * unsupported arg fails fast BEFORE the socket write, with both
    * sides accepting the same set: atoms and FLAT vectors of atoms
    * (the RVec literal evaluator has no nested-vector form, so nesting
    * must be rejected here or the ship succeeds and the replay throws). */
  private def ipcArgLit(x: Any): RExpr = x match {
    case null => RNull
    case l: java.lang.Long => RNum(0.0, isInt = true, l = l)
    case i: java.lang.Integer => RNum(0.0, isInt = true, l = i.longValue)
    case d: java.lang.Double => RNum(d, isInt = false, l = 0L)
    case s: String => RStr(s)
    case b: java.lang.Boolean => RSym(if (b) "true" else "false")
    case d: java.time.LocalDate => RDate(d)
    case d: java.sql.Date => RDate(d.toLocalDate)
    case VAtom(a) => ipcArgLit(a)
    case VVec(items) =>
      RVec(items.toList.map {
        case VAtom(a) => ipcArgLit(a)
        case r: RVal => throw new IllegalArgumentException(
          s"ipc: nested $r argument is not applicable")
        case a => ipcArgLit(a)
      })
    case x => throw new IllegalArgumentException(
      s"ipc: cannot apply argument $x")
  }

  /** Serve the script evaluator over TCP speaking the reference's OWN
    * BINARY IPC protocol (`core/ipc.c`; started by `rayforce -p 5101` —
    * here `graft.Serve`): the 2-byte `[version, 0]` handshake each way
    * (ipc.c:63-98), then `RaySerde` frames — 16-byte 0xcefadefa header
    * whose msgtype field is 0 async / 1 sync / 2 response, followed by
    * one serialized object. Message dispatch mirrors `ipc_process_msg`
    * (ipc.c:375-395): a C8 payload evaluates as code text, a symbol
    * resolves, a LIST `[f, args…]` applies `f` to the argument VALUES,
    * plain data returns itself; sync messages get a msgtype-2 response
    * frame (errors as type-127 ERR objects, which raise client-side).
    * One persistent server environment seeded from `tables` and an
    * optional `init` script (where `ipc.rfl` binds `.z.po`/`.z.pc`/`f`),
    * a daemon accept loop, one connection per client. Each incoming
    * frame evaluates under a global lock (the reference's event loop is
    * single-threaded too) with `.z.w` bound to the connection handle;
    * `.z.po`/`.z.pc` fire on open/close when bound (their observable
    * surface is side effects, as with timers). Values with no wire form
    * fall back to a C8 rendering. Pass port 0 for an ephemeral port. */
  def serveIpc(spark: SparkSession, port: Int,
               tables: Map[String, DataFrame] = Map.empty,
               init: String = ""): IpcServer = {
    val env = scala.collection.mutable.Map[String, RVal](
      tables.map { case (k, v) => k -> (VTab(v): RVal) }.toSeq: _*)
    if (init.nonEmpty) withEvalStack {
      val p = new Parser(init); p.skipWs()
      while (!p.eof) {
        evalScript(spark, p.parseExpr(), env, _ => (), new StringBuilder)
        p.skipWs()
      }
    }
    val ss = new java.net.ServerSocket(port)
    val nextHandle = new java.util.concurrent.atomic.AtomicLong(2L)
    val lock = new Object
    def callback(name: String, h: Long): Unit = env.get(name) match {
      case Some(f: VFn) if f.params.length == 1 =>
        try applyFn(spark, f.params, f.bodies, Seq(VAtom(java.lang.Long.valueOf(h))), env, _ => ())
        catch { case _: Exception => () }
      case _ => ()
    }
    val acceptor = new Thread(() => {
      try while (true) {
        val sock = ss.accept()
        val h = nextHandle.incrementAndGet()
        val worker = new Thread(() => {
          val in = new java.io.DataInputStream(
            new java.io.BufferedInputStream(sock.getInputStream))
          val out = new java.io.DataOutputStream(
            new java.io.BufferedOutputStream(sock.getOutputStream))
          // reference handshake (ipc_read_handshake, core/ipc.c:282-316):
          // the client frame is any byte sequence ENDING in 0x00 (the
          // reference client sends [version, 0]; the docs' optional
          // [user:password] prefix also lands here) — the server reads
          // to the NUL and replies with ONE byte, its version
          var hsRead = 0
          while ({ val b = in.read()
                   if (b < 0) throw new java.io.IOException("ipc: eof in handshake")
                   hsRead += 1
                   require(hsRead <= 256, "ipc: handshake too long")
                   b != 0 }) ()
          out.write(RaySerde.Version); out.flush()
          lock.synchronized(withEvalStack(callback(".z.po", h)))
          try while (true) {
            val frame = RaySerde.readFrame(in)
            // the reference replies ONLY to msgtype 1 (sync,
            // ipc_on_data, core/ipc.c): async (0) and stray response
            // (2) frames evaluate without a reply
            val shouldReply = RaySerde.frameMsgType(frame) == 1
            val reply: Array[Byte] = lock.synchronized(withEvalStack {
              try {
                env(".z.w") = VAtom(java.lang.Long.valueOf(h))
                // dispatch on the payload tag like ipc_process_msg
                // (core/ipc.c:375-395): C8 = code-as-text through
                // eval_str; a symbol resolves; a LIST [f, args…]
                // applies f to the arg VALUES; data returns itself
                val v: RVal =
                  if (RaySerde.frameTypeTag(frame) == 12) {
                    val src = RaySerde.deserialize(spark, frame) match {
                      case VAtom(s: String) => s
                      case x => throw new IllegalArgumentException(
                        s"ipc: bad C8 frame $x")
                    }
                    val p = new Parser(src); p.skipWs()
                    var last: RVal = VAtom(null)
                    while (!p.eof) {
                      last = evalScript(spark, p.parseExpr(), env,
                        _ => (), new StringBuilder)
                      p.skipWs()
                    }
                    last
                  } else if (RaySerde.frameTypeTag(frame) == -6) {
                    val name = RaySerde.deserialize(spark, frame) match {
                      case VAtom(s: String) => s
                      case x => throw new IllegalArgumentException(s"$x")
                    }
                    evalScript(spark, RSym(name), env, _ => (),
                      new StringBuilder)
                  } else RaySerde.deserialize(spark, frame) match {
                    // only a LIST payload (tag 0) is an apply — a
                    // SYMBOL-VECTOR frame (tag 6) also decodes to a
                    // VVec of strings but eval() returns symbol
                    // vectors unchanged (core/eval.c:884-893)
                    case VVec(xs) if RaySerde.frameTypeTag(frame) == 0 &&
                        xs.nonEmpty && xs.head.isInstanceOf[String] =>
                      evalScript(spark,
                        RList(RSym(xs.head.asInstanceOf[String]) ::
                          xs.tail.toList.map(ipcArgLit)),
                        env, _ => (), new StringBuilder)
                    case data => data // eval_obj of data is the data
                  }
                val norm = v match {
                  case cv: VColView => VVec(materialize(cv))
                  case other => other
                }
                try RaySerde.serialize(norm, msgtype = 2)
                catch { case _: Exception => // no wire form → rendering
                  RaySerde.serialize(VAtom(render(norm)), msgtype = 2)
                }
              } catch {
                case e: Exception => RaySerde.serializeError(
                  Option(e.getMessage).getOrElse(e.toString))
              }
            })
            if (shouldReply) { out.write(reply); out.flush() }
          } catch { case _: java.io.IOException => () }
          finally {
            lock.synchronized(withEvalStack(callback(".z.pc", h)))
            try sock.close() catch { case _: Exception => () }
          }
        }, s"rayfall-ipc-conn-$h")
        worker.setDaemon(true)
        worker.start()
      } catch { case _: java.io.IOException => () } // server stopped
    }, "rayfall-ipc-accept")
    acceptor.setDaemon(true)
    acceptor.start()
    new IpcServer(ss.getLocalPort, ss)
  }

  /** Run the tree-walking interpreter on a dedicated 256 MB-stack
    * thread: evalScript is one giant match whose JVM frame is sized to
    * its worst branch, so deep script recursion (fib.rfl self-calls)
    * would exhaust a default 512 KB–1 MB thread stack at depth ~20.
    * The reference runs on its own VM stack (core/vm.c) — this is the
    * JVM equivalent. No-op when already on the eval thread (nested
    * script/eval/load). */
  private val evalThreadName = "rayfall-eval"

  // ---- script timers (core/chrono.c:361-402 ray_timer): a shared
  // single-thread scheduler; callbacks evaluate against the live env, so
  // their observable surface is side effects (journal writes, file
  // appends) — the analog of the reference's event-loop timers
  private val timerSeq = new java.util.concurrent.atomic.AtomicLong(0L)
  private val timerReg = new java.util.concurrent.ConcurrentHashMap[
    java.lang.Long, java.util.concurrent.ScheduledFuture[_]]()
  private lazy val timerPool =
    java.util.concurrent.Executors.newSingleThreadScheduledExecutor(
      (r: Runnable) => {
        val t = new Thread(null, r, "rayfall-timer", 64L * 1024 * 1024)
        t.setDaemon(true); t
      })
  private def withEvalStack[A](body: => A): A =
    if (Thread.currentThread().getName == evalThreadName) body
    else {
      var res: Either[Throwable, A] = Left(
        new IllegalStateException("eval thread died"))
      val t = new Thread(null,
        () => res = try Right(body) catch { case e: Throwable => Left(e) },
        evalThreadName, 256L * 1024 * 1024)
      // the active Spark session is an InheritableThreadLocal, so the
      // child thread sees it; every call here also passes `spark`
      // explicitly
      t.start(); t.join()
      res.fold(e => throw e, identity)
    }

  /** Render a script value the way the reference prints it (C8 atoms as
    * bare chars, symbols/strings bare, numbers as digits). */
  private def render(v: RVal): String = v match {
    case VAtom(null) => "nil"
    case VAtom(s: String) => s
    case VAtom(d: java.time.LocalDate) =>
      f"${d.getYear}%04d.${d.getMonthValue}%02d.${d.getDayOfMonth}%02d"
    case VAtom(d: java.lang.Double) => d.toString
    case VAtom(x) => x.toString
    case VVec(xs) => xs.map {
      case r: RVal => render(r)
      case x => render(VAtom(x))
    }.mkString("[", " ", "]")
    case VTab(df) => s"table[${df.columns.mkString(" ")}]"
    case VFn(ps, _) => s"fn[${ps.mkString(" ")}]"
    case VNative(n, _) => s"native[$n]"
    case VDict(ks, vs) => ks.zip(vs).map { case (k, v) =>
      s"$k: ${v match { case r: RVal => render(r); case x => render(VAtom(x)) }}"
    }.mkString("{", " ", "}")
    case x => x.toString
  }

  /** The reference's %-placeholder formatting (core format/println). */
  private def fmt(f: String, args: Seq[RVal]): String = {
    val sb = new StringBuilder
    var ai = 0
    f.foreach {
      case '%' if ai < args.length => sb ++= render(args(ai)); ai += 1
      case c => sb += c
    }
    sb.toString
  }

  /** Elements of a value for the lambda combinators: vectors yield their
    * items, STRINGS yield their characters (reference C8 vectors,
    * core/iter.c IS_VECTOR), atoms are not iterable. */
  private def charElems(v: RVal): Option[Vector[RVal]] = v match {
    case VVec(xs) => Some(xs.map[RVal] {
      case r: RVal => r
      case x => VAtom(x)
    })
    case VAtom(s: String) => Some(s.toVector.map(c => VAtom(c.toString): RVal))
    case _ => None
  }

  private def unwrapAtom(v: RVal): Any = v match {
    case VAtom(x) => x
    case VVec(xs) => xs
    case x => x
  }

  /** Map `f` over the elements of `v` (single call on a non-vector —
    * core/iter.c:691). */
  private def mapOver(v: RVal, f: RVal => RVal): RVal =
    charElems(v) match {
      case Some(es) => VVec(es.map(e => unwrapAtom(f(e))))
      case None => f(v)
    }

  /** Coerce a script atom to a JVM parameter type (loadfn call sites). */
  private def coerceJvm(x: Any, t: Class[_]): AnyRef = (x, t) match {
    case (l: java.lang.Long, c) if c == classOf[Long] || c == classOf[java.lang.Long] => l
    case (l: java.lang.Long, c) if c == classOf[Int] || c == classOf[java.lang.Integer] =>
      java.lang.Integer.valueOf(l.intValue)
    case (l: java.lang.Long, c) if c == classOf[Double] || c == classOf[java.lang.Double] =>
      java.lang.Double.valueOf(l.doubleValue)
    case (d: java.lang.Double, c) if c == classOf[Double] || c == classOf[java.lang.Double] => d
    case (s: String, c) if c == classOf[String] || c == classOf[Object] => s
    case (v: AnyRef, c) if c.isInstance(v) || c == classOf[Object] => v
    case (v, c) => throw new IllegalArgumentException(
      s"loadfn: cannot pass $v to a ${c.getName} parameter")
  }

  private def fnOf(e: RExpr,
                   env: scala.collection.mutable.Map[String, RVal])
      : (Seq[String], List[RExpr]) = e match {
    case RList(RSym("fn") :: RVec(ps) :: bodies) if bodies.nonEmpty =>
      (keyNames(ps), bodies)
    case RSym(n) => env(n) match {
      case VFn(ps, bodies) => (ps, bodies)
      case x => throw new IllegalArgumentException(s"$n is not a function ($x)")
    }
    case x => throw new IllegalArgumentException(s"bad function form $x")
  }

  /** Total order over script atoms for the vector sort family —
    * numerics widen, nulls sort FIRST (the reference's null is the
    * type's minimum, e.g. MIN_I64 for I64, SURVEY §1.2). */
  private def cmpAny(a: Any, b: Any): Int = (a, b) match {
    case (null, null) => 0
    case (null, _) => -1
    case (_, null) => 1
    case (x: java.lang.Long, y: java.lang.Long) => java.lang.Long.compare(x, y)
    case (x: java.lang.Double, y: java.lang.Double) =>
      java.lang.Double.compare(x, y)
    case (x: java.lang.Long, y: java.lang.Double) =>
      java.lang.Double.compare(x.doubleValue, y)
    case (x: java.lang.Double, y: java.lang.Long) =>
      java.lang.Double.compare(x, y.doubleValue)
    case (x: String, y: String) => x.compareTo(y)
    case (x: java.lang.Boolean, y: java.lang.Boolean) =>
      java.lang.Boolean.compare(x, y)
    case (x: java.time.LocalDate, y: java.time.LocalDate) => x.compareTo(y)
    case (x, y) =>
      throw new IllegalArgumentException(s"cannot order $x vs $y")
  }

  /** Is `e` usable as the binary function slot of a fold/scan form —
    * an inline lambda, a bound lambda, or a broadcastArith operator? */
  private val arithOps =
    Set("+", "-", "*", "/", "%", "div",
      ">", "<", ">=", "<=", "==", "=", "!=")
  private def callable2(e: RExpr,
                        env: scala.collection.mutable.Map[String, RVal])
      : Boolean = e match {
    case RList(RSym("fn") :: RVec(_) :: bodies) => bodies.nonEmpty
    case RSym(n) =>
      env.get(n).exists(_.isInstanceOf[VFn]) || arithOps.contains(n)
    case _ => false
  }

  // --- extracted bodies for the fold/scan/sort/storage/meta-eval forms.
  // evalScript is ONE giant method: the JVM sizes its stack frame to the
  // max locals across ALL match branches, so heavyweight case bodies
  // inline would tax EVERY recursive eval step (fib.rfl overflows at
  // depth ~18). Keeping these in their own methods keeps the
  // interpreter's frame small.

  private type SEnv = scala.collection.mutable.Map[String, RVal]

  /** Driver-vector view of a value (object-level twin of evalScript's
    * local `vec`). */
  private def vecV(spark: SparkSession, v: RVal): Vector[Any] = v match {
    case VVec(xs) => xs
    case VAtom(x) => Vector(x)
    case cv: VColView => materialize(cv)
    case r: VRange => materializeRange(spark, r)
    case _ => throw new IllegalArgumentException(s"expected a vector, got $v")
  }

  /** Binary-function dispatch for the fold/scan forms: an operator
    * symbol routes to broadcastArith, anything else applies as a
    * lambda with (x, y). */
  private def callBinary(spark: SparkSession, f: RExpr, env: SEnv,
                         hook: DataFrame => Unit, out: StringBuilder,
                         x: RVal, y: RVal): RVal = f match {
    case RSym(op) if !env.get(op).exists(_.isInstanceOf[VFn]) &&
        arithOps.contains(op) => broadcastArith(op, x, y)
    case _ =>
      val (ps, bodies) = fnOf(f, env)
      applyFn(spark, ps, bodies, Seq(x, y), env, hook, out)
  }

  private def evalFoldDir(spark: SparkSession, dir: String, f: RExpr,
                          a: RExpr, b: RExpr, env: SEnv,
                          hook: DataFrame => Unit,
                          out: StringBuilder): RVal = {
    def ev(x: RExpr) = evalScript(spark, x, env, hook, out)
    val (xsv, seed) =
      if (dir == "fold-left") (vecV(spark, ev(a)), ev(b))
      else (vecV(spark, ev(b)), ev(a))
    xsv.foldLeft(seed) { (acc, x) =>
      f match {
        case RSym(op) if !env.get(op).exists(_.isInstanceOf[VFn]) &&
            arithOps.contains(op) =>
          broadcastArith(op, VAtom(x), acc)
        case _ =>
          val (ps, bodies) = fnOf(f, env)
          val args = if (dir == "fold-right") Seq(acc, VAtom(x))
                     else Seq(VAtom(x), acc)
          applyFn(spark, ps, bodies, args, env, hook, out)
      }
    }
  }

  private def evalScanForm(spark: SparkSession, f: RExpr, a: RExpr,
                           b: RExpr, env: SEnv, hook: DataFrame => Unit,
                           out: StringBuilder): RVal = {
    def ev(x: RExpr) = evalScript(spark, x, env, hook, out)
    def call(x: RVal, y: RVal) = callBinary(spark, f, env, hook, out, x, y)
    // lazy vector + `+` past the driver cap → the distributed
    // running-window plan ((scan + xs seed) and the commutative
    // (scan + seed ys) spelling both fold the seed in; other ops keep
    // driver semantics — they aren't broadcast arith below the cap either)
    def scanOp: Option[String] = f match {
      case RSym(op @ "+") if !env.get(op).exists(_.isInstanceOf[VFn]) => Some(op)
      case _ => None
    }
    (ev(a), ev(b)) match {
      case (av @ VAtom(_), bv @ VAtom(_)) => call(av, bv)
      case (VAtom(seed), ys @ (_: VColView | _: VRange))
          if scanOp.isDefined && lazyLen(ys).exists(_ > maxDriverVec) =>
        lazyScan(spark, scanOp.get, ys, seed)
      case (av @ VAtom(_), ys) =>
        var acc: RVal = av
        VVec(vecV(spark, ys).map { y =>
          acc = call(acc, VAtom(y)); unwrapAtom(acc) })
      case (xs @ (_: VColView | _: VRange), VAtom(seed))
          if scanOp.isDefined && lazyLen(xs).exists(_ > maxDriverVec) =>
        lazyScan(spark, scanOp.get, xs, seed)
      case (xs, bv @ VAtom(_)) =>
        var acc: RVal = bv
        VVec(vecV(spark, xs).map { x =>
          acc = call(VAtom(x), acc); unwrapAtom(acc) })
      case (xs, ys) =>
        val (xv, yv) = (vecV(spark, xs), vecV(spark, ys))
        require(xv.length == yv.length, "scan length mismatch")
        VVec(xv.zip(yv).map { case (x, y) =>
          unwrapAtom(call(VAtom(x), VAtom(y))) })
    }
  }

  private def evalScanDir(spark: SparkSession, dir: String, f: RExpr,
                          a: RExpr, b: RExpr, env: SEnv,
                          hook: DataFrame => Unit,
                          out: StringBuilder): RVal = {
    def ev(x: RExpr) = evalScript(spark, x, env, hook, out)
    val (xsv, seed) =
      if (dir == "scan-left") (vecV(spark, ev(a)), ev(b))
      else (vecV(spark, ev(b)), ev(a))
    if (xsv.isEmpty) VVec(Vector.empty)
    else {
      var acc: RVal = seed
      VVec(unwrapAtom(seed) +: xsv.map { x =>
        acc = callBinary(spark, f, env, hook, out, VAtom(x), acc)
        unwrapAtom(acc)
      })
    }
  }

  private def evalVecSort(spark: SparkSession, op: String,
                          value: RVal): RVal = {
    // past the driver cap, lazy vectors route to the distributed sort
    // plans instead of erroring (below it, driver semantics — the
    // goldens — are authoritative)
    value match {
      case _: VColView | _: VRange if lazyLen(value).exists(_ > maxDriverVec) =>
        return lazyVecSort(spark, op, value)
      case _ => ()
    }
    val asStr = value match { case VAtom(_: String) => true; case _ => false }
    val xs: Vector[Any] = value match {
      case VAtom(s: String) => s.toVector.map(_.toString)
      case other => vecV(spark, other)
    }
    def restr(ys: Vector[Any]): RVal =
      if (asStr) VAtom(ys.mkString) else VVec(ys)
    lazy val perm: Vector[Int] =
      xs.indices.toVector.sortWith((i, j) => cmpAny(xs(i), xs(j)) < 0)
    op match {
      case "iasc" => VVec(perm.map(i => i.toLong: Any))
      case "idesc" => VVec(xs.indices.toVector
        .sortWith((i, j) => cmpAny(xs(i), xs(j)) > 0)
        .map(i => i.toLong: Any))
      case "asc" => restr(perm.map(xs))
      case "desc" => restr(xs.indices.toVector
        .sortWith((i, j) => cmpAny(xs(i), xs(j)) > 0).map(xs))
      case "rank" =>
        val r = new Array[Any](xs.length)
        perm.zipWithIndex.foreach { case (p, i) => r(p) = i.toLong }
        VVec(r.toVector)
      case "reverse" => restr(xs.reverse)
    }
  }

  /** Unary rounding family (core math unaries, tests/lang.c:2546-2561):
    * round = half-away-from-zero, f64 stays f64, integers pass through. */
  private def evalRoundOp(spark: SparkSession, op: String, v: RVal): RVal = {
    def f(x: Any): Any = x match {
      case null => null
      case d: java.lang.Double => op match {
        case "round" => java.lang.Double.valueOf(
          if (d.isNaN) d.doubleValue
          else math.signum(d) * math.floor(math.abs(d) + 0.5))
        case "floor" => java.lang.Double.valueOf(math.floor(d))
        case "ceil" => java.lang.Double.valueOf(math.ceil(d))
      }
      case l: java.lang.Long => l
      case i: java.lang.Integer => i
      case x => throw new IllegalArgumentException(s"$op: non-numeric $x")
    }
    v match {
      case VAtom(x) => VAtom(f(x))
      case VVec(xs) => VVec(xs.map(f))
      case cv: VColView => VVec(materialize(cv).map(f))
      case r: VRange => r // integral lazy ranges are already whole
      case x => throw new IllegalArgumentException(s"$op: cannot apply to $x")
    }
  }

  private def evalXrank(spark: SparkSession, value: RVal, nb: Long): RVal = {
    value match {
      case _: VColView | _: VRange =>
        lazyLen(value).filter(_ > maxDriverVec).foreach { n =>
          return lazyXrank(spark, value, nb, n)
        }
      case _ => ()
    }
    val xs = vecV(spark, value)
    require(nb > 0, s"xrank buckets must be positive, got $nb")
    val perm = xs.indices.toVector
      .sortWith((i, j) => cmpAny(xs(i), xs(j)) < 0)
    val r = new Array[Any](xs.length)
    perm.zipWithIndex.foreach { case (p, rk) => r(p) = rk * nb / xs.length }
    VVec(r.toVector)
  }

  private def evalWriteCsv(df: DataFrame, path: String, sep: String): RVal = {
    import java.nio.file.{Files, Paths, Path}
    val staging = path + ".staging"
    // dates render yyyy.MM.dd — the literal form read-csv parses
    df.coalesce(1).write.mode("overwrite").option("header", "true")
      .option("sep", sep).option("dateFormat", "yyyy.MM.dd").csv(staging)
    val part = scala.jdk.CollectionConverters
      .IteratorHasAsScala(Files.list(Paths.get(staging)).iterator())
      .asScala.find(_.getFileName.toString.endsWith(".csv"))
      .getOrElse(throw new IllegalStateException("no csv part written"))
    Files.move(part, Paths.get(path),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    Files.walk(Paths.get(staging))
      .sorted(java.util.Comparator.reverseOrder())
      .forEach((f: Path) => Files.delete(f))
    VAtom(null)
  }

  private def evalSetParted(df: DataFrame, root: String, tab: String,
                            dateCol: String): RVal = {
    require(df.columns.contains(dateCol),
      s"set-parted: no column '$dateCol' in ${df.columns.mkString(",")}")
    import java.nio.file.{Files, Paths, Path}
    val staging = Paths.get(root, s".staging-$tab")
    // repartition on the date first — without it every task writes a
    // sliver into every partition (tasks × dates small files)
    df.repartition(col(dateCol))
      .write.mode("overwrite").partitionBy(dateCol)
      .parquet(staging.toString)
    val moved = scala.jdk.CollectionConverters
      .IteratorHasAsScala(Files.list(staging).iterator()).asScala
      .filter(d => Files.isDirectory(d) &&
        d.getFileName.toString.startsWith(s"$dateCol="))
      .map { d =>
        val raw = d.getFileName.toString.stripPrefix(s"$dateCol=")
        require(raw != "__HIVE_DEFAULT_PARTITION__",
          s"set-parted: null $dateCol values cannot form a partition dir")
        // DateType partitions render ISO; the parted layout uses dots
        val dirName =
          if (raw.matches("\\d{4}-\\d{2}-\\d{2}")) raw.replace('-', '.')
          else raw
        val target = Paths.get(root, dirName, tab)
        if (Files.exists(target)) { // overwrite an existing partition
          Files.walk(target).sorted(java.util.Comparator.reverseOrder())
            .forEach(f => Files.delete(f))
        }
        Files.createDirectories(target.getParent)
        Files.move(d, target)
        dirName
      }.toVector
    Files.walk(staging).sorted(java.util.Comparator.reverseOrder())
      .forEach((f: Path) => Files.delete(f))
    VVec(moved.map(s => s: Any))
  }

  private def evalModify(spark: SparkSession, f: RExpr, pathIdx: List[Any],
                         vVal: RVal, targetVal: RVal, env: SEnv,
                         hook: DataFrame => Unit,
                         out: StringBuilder): RVal = {
    val leaf: RVal => RVal = f match {
      case RSym("set") => _ => vVal
      case _ => old => callBinary(spark, f, env, hook, out, old, vVal)
    }
    def amendAt(cur: RVal, path: List[Any]): RVal = (cur, path) match {
      case (x, Nil) => leaf(x)
      case (VVec(xs), (ix: java.lang.Long) :: rest) =>
        val at = ix.toInt
        require(at >= 0 && at < xs.length, s"modify index $at out of range")
        val elem: RVal = xs(at) match {
          case r: RVal => r
          case vv: Vector[_] => VVec(vv.asInstanceOf[Vector[Any]])
          case a => VAtom(a)
        }
        VVec(xs.updated(at, unwrapAtom(amendAt(elem, rest))))
      case (VDict(ks, vs), (key: String) :: rest) =>
        val at = ks.indexOf(key)
        require(at >= 0, s"modify: no key $key")
        val elem: RVal = vs(at) match {
          case r: RVal => r
          case vv: Vector[_] => VVec(vv.asInstanceOf[Vector[Any]])
          case a => VAtom(a)
        }
        VDict(ks, vs.updated(at, unwrapAtom(amendAt(elem, rest))))
      case (x, p) => throw new IllegalArgumentException(
        s"modify: cannot index $x with $p")
    }
    amendAt(targetVal, pathIdx)
  }

  private[rayfall] def parseAll(src: String): List[RExpr] = {
    val p = new Parser(src)
    val es = scala.collection.mutable.ListBuffer[RExpr]()
    p.skipWs()
    while (!p.eof) { es += p.parseExpr(); p.skipWs() }
    es.toList
  }

  private def evalExprs(spark: SparkSession, es: List[RExpr], env: SEnv,
                        hook: DataFrame => Unit,
                        out: StringBuilder): RVal =
    es.foldLeft(VAtom(null): RVal)((_, e2) =>
      evalScript(spark, e2, env, hook, out))

  /** The reference typename table (core/misc.c:32, core/env.c:272-326):
    * lowercase atoms, UPPERCASE vectors. Divergences the §1.2 value
    * model forces: strings and symbols share one repr (both report
    * C8/SYMBOL), timestamps/times are carried as i64. */
  private def typeNameOf(v: RVal): String = {
    def vecType(dt: org.apache.spark.sql.types.DataType): String = {
      import org.apache.spark.sql.types._
      dt match {
        case LongType | IntegerType => "I64"
        case DoubleType | FloatType => "F64"
        case BooleanType => "B8"
        case StringType => "SYMBOL"
        case DateType => "DATE"
        case _ => "LIST"
      }
    }
    v match {
      case VAtom(null) => "NULL"
      case VAtom(_: java.lang.Long) => "i64"
      case VAtom(_: java.lang.Integer) => "i32"
      case VAtom(_: java.lang.Double) => "f64"
      case VAtom(_: java.lang.Boolean) => "b8"
      case VAtom(_: String) => "C8" // a string IS a C8 vector
      case VAtom(_: java.time.LocalDate) => "date"
      case VAtom(_: Vector[_]) => "LIST"
      case VVec(xs) => xs.collectFirst {
        case _: java.lang.Long => "I64"
        case _: java.lang.Integer => "I64"
        case _: java.lang.Double => "F64"
        case _: java.lang.Boolean => "B8"
        case _: String => "SYMBOL"
        case _: java.time.LocalDate => "DATE"
        case _: Vector[_] => "LIST"
        case _: RVal => "LIST"
      }.getOrElse("LIST")
      case VTab(_) => "TABLE"
      case VDict(_, _) => "DICT"
      case _: VFn => "LAMBDA"
      case _: VNative => "LAMBDA" // dynlib symbols apply like lambdas
      case VExprs(_) => "LIST" // the reference parse tree is a LIST
      case VRange(_, _) => "I64"
      case cv: VColView => vecType(cv.df.schema(cv.base).dataType)
      case VHandle(_) => "i64" // fd-like handle
      case _ => "LIST"
    }
  }

  // --- introspection / environment (reference core/env.c:97 memstat,
  // core/vary.c:107 gc, core/sys.c:362 system / :417 sysinfo,
  // core/os.c:86-120 os-get/set-var)

  /** os-set-var overlay: the JVM cannot mutate its own process
    * environment, so set vars live here and os-get-var consults the
    * overlay before the real environment. */
  private val envOverlay =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def sysMemstat(): RVal = {
    val rt = Runtime.getRuntime
    VDict(Vector("msys", "heap", "free", "syms"),
      Vector(rt.maxMemory(), rt.totalMemory(), rt.freeMemory(),
        0L)) // no interned-symbol table in this engine
  }

  private def sysGc(): RVal = {
    val rt = Runtime.getRuntime
    val before = rt.totalMemory() - rt.freeMemory()
    System.gc()
    val after = rt.totalMemory() - rt.freeMemory()
    VAtom(java.lang.Long.valueOf(math.max(0L, before - after)))
  }

  private def sysInfo(spark: SparkSession): RVal =
    VDict(
      Vector("version", "build", "hash", "cpu", "os", "cwd", "mem",
        "cores", "threads"),
      Vector(
        spark.version, "graft", "",
        System.getProperty("os.arch", ""),
        System.getProperty("os.name", ""),
        System.getProperty("user.dir", ""),
        Runtime.getRuntime.maxMemory(),
        Runtime.getRuntime.availableProcessors().toLong,
        Thread.activeCount().toLong))

  /** Run a shell command, stderr merged (the reference pipes through
    * `popen(cmd + " 2>&1")`): one output line comes back as a string
    * atom, several as a string vector, none as the empty string. */
  private def sysCommand(cmd: String): RVal = {
    val pb = new ProcessBuilder("sh", "-c", cmd).redirectErrorStream(true)
    val proc = pb.start()
    val lines = scala.io.Source.fromInputStream(proc.getInputStream)
      .getLines().toVector
    proc.waitFor()
    lines match {
      case Vector() => VAtom("")
      case Vector(one) => VAtom(one)
      case many => VVec(many.map(s => s: Any))
    }
  }

  private def evalScript(spark: SparkSession, e: RExpr,
                         env: scala.collection.mutable.Map[String, RVal],
                         hook: DataFrame => Unit,
                         out: StringBuilder = new StringBuilder): RVal = {
    def ev(x: RExpr): RVal = evalScript(spark, x, env, hook, out)
    def vec(v: RVal): Vector[Any] = v match {
      case VVec(xs) => xs
      case VAtom(x) => Vector(x)
      case cv: VColView => materialize(cv)
      case r: VRange => materializeRange(spark, r)
      case x => throw new RayfallError(
        s"expected a vector, got ${typeNameOf(x)}")
    }
    def num(v: RVal): Long = v match {
      case VAtom(l: java.lang.Long) => l
      case _ => throw new IllegalArgumentException(s"expected an integer, got $v")
    }
    def tablesOf: Map[String, DataFrame] =
      env.collect { case (k, VTab(df)) => k -> df }.toMap

    e match {
      case RNum(_, true, l) => VAtom(l)
      case RNum(v, false, _) => VAtom(v)
      case RNull => VAtom(null)
      case RSym("null") => VAtom(null)
      case RSym("true") => VAtom(java.lang.Boolean.TRUE)
      case RSym("false") => VAtom(java.lang.Boolean.FALSE)
      case RDate(d) => VAtom(d)
      case RStr(s) => VAtom(s)
      // symRepr: `(ser 'sym)` emits the reference's symbol atom (−6),
      // while the shared string repr keeps every other op unchanged
      case RQuote(s) => VAtom.sym(s)
      // vector literal: bare symbols are SYMBOL atoms (reference [I J K]
      // is a symbol vector, not variable references)
      case RVec(items) => VVec(items.map[Any] {
        case RSym("true") => java.lang.Boolean.TRUE
        case RSym("false") => java.lang.Boolean.FALSE
        case RSym(n) => n
        case i => ev(i) match {
          case VAtom(x) => x
          case x => throw new IllegalArgumentException(s"bad vector element $x")
        }
      }.toVector)
      case RSym(n) => env.getOrElse(n,
        throw new IllegalArgumentException(s"unbound symbol $n"))

      case RList(RSym("set") :: RSym(name) :: value :: Nil) =>
        val v = ev(value); env(name) = v
        v match { case VTab(df) => hook(df); case _ => () }
        v
      // generic set/get of ANY value to a path (reference ray_set/ray_get,
      // core/binary.c:317, core/unary.c:48-137): tables and vectors go to
      // parquet (vectors with an explicit order index; lazy vectors write
      // DISTRIBUTED), atoms/dicts/lambdas to a parseable s-expr file
      case RList(RSym("set") :: RStr(path) :: value :: Nil) =>
        setPath(spark, path, ev(value)); VAtom(null)
      case RList(RSym("get") :: p :: Nil) =>
        val path = ev(p) match {
          case VAtom(s: String) => s
          case x => throw new IllegalArgumentException(s"get needs a path, got $x")
        }
        val v = getPath(spark, path)
        v match { case VTab(df) => hook(df); case _ => () }
        v
      // meta-eval (core/env.c:127-130; core/io.c:1031-1090): parse
      // yields the AST as a first-class value; eval runs a string or a
      // parsed AST in the CURRENT environment; load runs a script file
      // (a trailing-"/" path instead loads a stored object and binds it
      // under the file name, io.c:1063-1080).
      // (quote expr) — the FN_SPECIAL_FORM (reference core/env.c:124,
      // core/misc.c:90 ray_quote = clone of the UNevaluated argument):
      // returns the parse tree as a first-class code value, eval's
      // inverse — (eval (quote e)) ≡ e. 'sym literals stay RQuote.
      case RList(RSym("quote") :: x :: Nil) => VExprs(List(x))
      case RList(RSym("parse") :: s :: Nil) =>
        ev(s) match {
          case VAtom(src: String) => VExprs(parseAll(src))
          case x => throw new IllegalArgumentException(
            s"parse needs a string, got $x")
        }
      case RList(RSym("eval") :: x :: Nil) =>
        ev(x) match {
          case VAtom(src: String) =>
            evalExprs(spark, parseAll(src), env, hook, out)
          case VExprs(es) => evalExprs(spark, es, env, hook, out)
          // eval of a non-code value is the value (reference eval_obj)
          case v => v
        }
      case RList(RSym("load") :: pathE :: Nil) =>
        ev(pathE) match {
          case VAtom(path: String) if path.endsWith("/") =>
            // stored-object load: bind under the trailing path segment
            val name = path.stripSuffix("/").split('/').last
            val v = getPath(spark, path.stripSuffix("/"))
            env(name) = v
            v match { case VTab(df) => hook(df); case _ => () }
            v
          case VAtom(path: String) =>
            evalExprs(spark, parseAll(java.nio.file.Files.readString(
              java.nio.file.Paths.get(path))), env, hook, out)
          case x => throw new IllegalArgumentException(
            s"load needs a path, got $x")
        }

      // (type x) — the reference typename table; see [[typeNameOf]]
      case RList(RSym("type") :: x :: Nil) =>
        VAtom(typeNameOf(ev(x)))

      // introspection / environment (core/env.c:97, core/vary.c:107,
      // core/sys.c:362,417, core/os.c:86-120)
      case RList(RSym("memstat") :: Nil) => sysMemstat()
      case RList(RSym("gc") :: Nil) => sysGc()
      case RList(RSym("sysinfo") :: Nil) => sysInfo(spark)
      // (args) — the process command line parsed to the reference's arg
      // dict (core/vary.c:139 ray_args → runtime args,
      // core/runtime.c:40 parse_cmdline): file/port/cores/timeit/
      // interactive flags plus user flags after "--" under 'uargs'.
      // Entry points (Run/Serve) register their argv via setCliArgs.
      case RList(RSym("args") :: Nil) => cliArgs
      case RList(RSym("system") :: c :: Nil) =>
        ev(c) match {
          case VAtom(cmd: String) => sysCommand(cmd)
          case x => throw new IllegalArgumentException(
            s"system needs a command string, got $x")
        }
      case RList(RSym("os-get-var") :: v :: Nil) =>
        ev(v) match {
          case VAtom(name: String) =>
            val x = Option(envOverlay.get(name))
              .orElse(Option(System.getenv(name)))
            VAtom(x.getOrElse(throw new IllegalArgumentException(
              s"os-get-var: $name is unset")))
          case x => throw new IllegalArgumentException(
            s"os-get-var needs a name, got $x")
        }
      case RList(RSym("os-set-var") :: k :: v :: Nil) =>
        (ev(k), ev(v)) match {
          case (VAtom(name: String), VAtom(value: String)) =>
            envOverlay.put(name, value); VAtom(null)
          case (a, b) => throw new IllegalArgumentException(
            s"os-set-var needs (name, value) strings, got ($a, $b)")
        }

      // display forms render into the capture sink (the docs pin script
      // output as tests); args evaluate for their side effects either way
      // (reference scripts nest real work, e.g. (println "…" (timeit …)))
      case RList(RSym("println") :: RStr(f) :: args) =>
        out ++= fmt(f, args.map(ev)) += '\n'
        VAtom(null)
      case RList(RSym("show") :: args) =>
        // ray_show formats FULL without limits (format.c:1499-1507):
        // a table prints the uncapped box layout; println stays compact
        args.map(ev).foreach {
          case VTab(df) => out ++= tableText(df, replCaps = false) += '\n'
          case v => out ++= render(v) += '\n'
        }
        VAtom(null)
      case RList(RSym("println") :: args) =>
        args.map(ev).foreach(v => out ++= render(v) += '\n')
        VAtom(null)
      // (print …) — println without the trailing newline (reference
      // ray_print vs ray_println, core/vary.c:115,127)
      case RList(RSym("print") :: RStr(f) :: args) =>
        out ++= fmt(f, args.map(ev))
        VAtom(null)
      case RList(RSym("print") :: args) =>
        args.map(ev).foreach(v => out ++= render(v))
        VAtom(null)
      // lambda values, local bindings, string formatting (reference
      // core/lambda.c, examples/fib.rfl, examples/parted.rfl); bodies may
      // be multi-form — evaluated in order, last value returned
      // (examples/sesslog.rfl putLog)
      case RList(RSym("fn") :: RVec(ps) :: bodies) if bodies.nonEmpty =>
        VFn(keyNames(ps), bodies)
      case RList(RSym("let") :: RSym(name) :: value :: Nil) =>
        // env is cloned per lambda call, so let stays call-scoped
        val v = ev(value); env(name) = v; v
      case RList(RSym("format") :: RStr(f) :: args) =>
        VAtom(fmt(f, args.map(ev)))
      case RList(RSym("timeit") :: form :: Nil) =>
        val t0 = System.nanoTime(); ev(form)
        VAtom((System.nanoTime() - t0) / 1000000L)

      // (timer interval reps fn) — fire a 1-arg lambda (given the timer
      // id) every `interval` ms for `reps` repetitions (0 = until
      // cancelled), returning the id; (timer id) cancels. Mirrors
      // ray_timer's two arities (core/chrono.c:361-402; the reference's
      // 3-arg form is (interval, reps, lambda) with NULL_I64 for 0 reps).
      case RList(RSym("timer") :: i :: Nil) =>
        Option(timerReg.remove(java.lang.Long.valueOf(num(ev(i)))))
          .foreach(_.cancel(false))
        VAtom(null)
      case RList(RSym("timer") :: iv :: rp :: fnE :: Nil) =>
        val interval = num(ev(iv))
        require(interval > 0, s"timer interval must be positive, got $interval")
        val reps = num(ev(rp))
        val (ps, bodies) = fnOf(fnE, env)
        require(ps.length == 1,
          s"timer lambda takes 1 arg (the id), got ${ps.length}")
        val id = timerSeq.incrementAndGet()
        val remaining = new java.util.concurrent.atomic.AtomicLong(
          if (reps == 0) Long.MaxValue else reps)
        val task: Runnable = () => {
          // a failing callback must never kill the scheduler thread
          try applyFn(spark, ps, bodies, Seq(VAtom(id)), env, hook, out)
          catch { case scala.util.control.NonFatal(_) => () }
          if (remaining.decrementAndGet() <= 0)
            Option(timerReg.remove(java.lang.Long.valueOf(id)))
              .foreach(_.cancel(false))
        }
        timerReg.put(id, timerPool.scheduleAtFixedRate(task, interval,
          interval, java.util.concurrent.TimeUnit.MILLISECONDS))
        VAtom(id)

      // (loadfn class method arity) — the reference loads a native symbol
      // from a shared library (ray_loadfn → dynlib_loadfn); the JVM
      // analog resolves a public static method from the classpath and
      // wraps it as a callable script value. Long/Double/String atoms
      // map to the method's parameters positionally.
      case RList(RSym("loadfn") :: p :: f :: a :: Nil) =>
        (ev(p), ev(f), num(ev(a))) match {
          case (VAtom(cls: String), VAtom(fname: String), arity) =>
            val m = Class.forName(cls).getMethods.find(m =>
              m.getName == fname && m.getParameterCount == arity &&
                java.lang.reflect.Modifier.isStatic(m.getModifiers))
              .getOrElse(throw new IllegalArgumentException(
                s"loadfn: no public static $fname/$arity in $cls"))
            VNative(s"$cls.$fname", args => {
              require(args.length == arity.toInt,
                s"$fname expects $arity args, got ${args.length}")
              val jargs = args.zip(m.getParameterTypes).map {
                case (VAtom(x), t) => coerceJvm(x, t)
                case (v, _) => throw new IllegalArgumentException(
                  s"loadfn args must be atoms, got $v")
              }
              m.invoke(null, jargs: _*) match {
                case null => VAtom(null)
                case i: java.lang.Integer => VAtom(i.longValue)
                // a native that already speaks script values (the raykx
                // bridge returns decoded tables/vectors) passes through
                case v: RVal => v
                case x => VAtom(x)
              }
            })
          case (a, b, _) => throw new IllegalArgumentException(
            s"loadfn needs (class, method, arity), got ($a, $b)")
        }
      case RList(RSym("resolve") :: RQuote(n) :: Nil) =>
        env.getOrElse(n, VAtom(null))
      case RList(RSym("nil?") :: x :: Nil) =>
        VAtom(java.lang.Boolean.valueOf(ev(x) match {
          case VAtom(null) => true; case _ => false }))
      case RList(RSym("if") :: c :: t :: rest) if rest.length <= 1 =>
        ev(c) match {
          case VAtom(b: java.lang.Boolean) if b => ev(t)
          case VAtom(b: java.lang.Boolean) =>
            rest.headOption.map(ev).getOrElse(VAtom(null))
          case x => throw new IllegalArgumentException(s"if needs a boolean, got $x")
        }

      // value-level lambda application and the iteration combinators
      // (reference tests/lang.c:27-33, :4417-4422, :5010-5014)
      case RList(RList(RSym("fn") :: RVec(ps) :: bodies) :: args)
          if bodies.nonEmpty =>
        applyFn(spark, keyNames(ps), bodies, args.map(ev), env, hook, out)
      case RList(RSym("map" | "pmap") ::
          (fnForm @ RList(RSym("fn") :: RVec(ps) :: bodies)) :: v :: Nil)
          if bodies.nonEmpty =>
        // pmap == map: everything in Spark is parallel; driver vectors
        // are small by construction
        ev(v) match {
          case VRange(n, f) if keyNames(ps).length == 1 && bodies.length == 1 =>
            // column-compile the lambda body so the map stays lazy
            // (table.rfl maps (fn [x] (as 'C8 x)) over a 1e7 range);
            // bodies the column translator can't express fall back to
            // the guarded driver path
            val p = keyNames(ps).head
            try {
              // probe the translation EAGERLY: toColumn must throw here,
              // not inside the deferred closure, or a body the column
              // translator can't express would escape this catch and
              // fail later when the range is forced
              toColumn(bodies.head, Map(p -> f(col("id"))))
              VRange(n, id => toColumn(bodies.head, Map(p -> f(id))))
            }
            catch { case _: IllegalArgumentException =>
              VVec(materializeRange(spark, VRange(n, f)).map(x =>
                applyFn(spark, Seq(p), bodies, Seq(VAtom(x)), env, hook, out) match {
                  case VAtom(y) => y
                  case y => throw new IllegalArgumentException(s"bad map result $y")
                }))
            }
          case src =>
            VVec(vec(src).map(x =>
              applyFn(spark, keyNames(ps), bodies, Seq(VAtom(x)), env, hook, out) match {
                case VAtom(y) => y
                case VVec(ys) => ys
                case y => throw new IllegalArgumentException(s"bad map result $y")
              }))
        }
      case RList(RSym("map-left") :: RSym(op) :: a :: v :: Nil) =>
        val right = ev(v)
        ev(a) match {
          case VAtom(x) => broadcastArith(op, VAtom(x), right)
          case VVec(xs) =>
            VVec(xs.map(x => broadcastArith(op, VAtom(x), right): Any))
          case x => throw new IllegalArgumentException(s"bad map-left arg $x")
        }
      // (map-right as 'TYPE v): per-element cast, lazy on ranges
      // (asof.rfl builds its symbol universe with (map-right as 'C8 (til …)))
      case RList(RSym("map-right") :: RSym("as") :: RQuote(t) :: v :: Nil) =>
        valueCast(spark, t, ev(v))
      case RList(RSym("map-right") :: RSym(op) :: l :: r :: Nil) =>
        // fn of each RIGHT element vs the whole left
        ev(r) match {
          case VAtom(x) => broadcastArith(op, ev(l), VAtom(x))
          case VVec(xs) =>
            VVec(xs.map(x => broadcastArith(op, ev(l), VAtom(x)): Any))
          case x => throw new IllegalArgumentException(s"bad map-right arg $x")
        }
      // lambda combinators (core/iter.c ray_map_left:665 / ray_map_right /
      // ray_map / apply): strings are C8 VECTORS — iterating one yields
      // its characters (examples/iter.rfl)
      case RList(RSym("map-left") ::
          (fnForm @ RList(RSym("fn") :: _)) :: l :: r :: Nil) =>
        val (ps, bodies) = fnOf(fnForm, env)
        val right = ev(r)
        mapOver(ev(l), e =>
          applyFn(spark, ps, bodies, Seq(e, right), env, hook, out))
      case RList(RSym("map-right") ::
          (fnForm @ RList(RSym("fn") :: _)) :: l :: r :: Nil) =>
        val (ps, bodies) = fnOf(fnForm, env)
        val left = ev(l)
        mapOver(ev(r), e =>
          applyFn(spark, ps, bodies, Seq(left, e), env, hook, out))
      case RList(RSym("map" | "pmap") :: fnForm :: a :: b :: Nil)
          if (fnForm match {
            case RList(RSym("fn") :: _) => true
            case RSym(n) => env.get(n).exists(_.isInstanceOf[VFn])
            case _ => false
          }) =>
        // two-argument map (inline or bound lambda): vectors zip, atoms
        // broadcast (map_lambda; the lang.c:3380+ comparison matrices
        // run `(map f x l)` with a bound f)
        val (ps, bodies) = fnOf(fnForm, env)
        val (av, bv) = (ev(a), ev(b))
        (charElems(av), charElems(bv)) match {
          case (Some(xs), Some(ys)) =>
            require(xs.length == ys.length, "map length mismatch")
            VVec(xs.zip(ys).map { case (x, y) =>
              unwrapAtom(applyFn(spark, ps, bodies, Seq(x, y), env, hook, out)) })
          case (Some(xs), None) =>
            VVec(xs.map(x =>
              unwrapAtom(applyFn(spark, ps, bodies, Seq(x, bv), env, hook, out))))
          case (None, Some(ys)) =>
            VVec(ys.map(y =>
              unwrapAtom(applyFn(spark, ps, bodies, Seq(av, y), env, hook, out))))
          case (None, None) =>
            applyFn(spark, ps, bodies, Seq(av, bv), env, hook, out)
        }
      // (map named-fn v) — single-arg map over a bound lambda
      // (examples/parted.rfl (map gen-tab (til 5)))
      case RList(RSym("map" | "pmap") :: RSym(f) :: v :: Nil)
          if env.get(f).exists(_.isInstanceOf[VFn]) =>
        val fn = env(f).asInstanceOf[VFn]
        mapOver(ev(v), e =>
          applyFn(spark, fn.params, fn.bodies, Seq(e), env, hook, out, Some(fn)))
      case RList(RSym("apply") :: fnForm :: args)
          if args.nonEmpty && (fnForm match {
            case RList(RSym("fn") :: _) => true
            case RSym(n) => env.get(n).exists(_.isInstanceOf[VFn])
            case _ => false
          }) =>
        val (ps, bodies) = fnOf(fnForm, env)
        applyFn(spark, ps, bodies, args.map(ev), env, hook, out)

      case RList(RSym("filter") :: v :: mask :: Nil)
          if !isTableForm(v, env) =>
        val xs = vec(ev(v)); val ms = vec(ev(mask))
        require(xs.length == ms.length, "filter length mismatch")
        VVec(xs.zip(ms).collect {
          case (x, b: java.lang.Boolean) if b => x })
      case RList(RSym("fold") :: RSym(op) :: v :: Nil) =>
        vec(ev(v)).map(x => VAtom(x): RVal)
          .reduce((a, b) => broadcastArith(op, a, b))

      // (fold-left f xs seed) / (fold-right f seed xs) — seed-carrying
      // folds (core/iter.c:1044-1211). BOTH iterate the vector
      // left-to-right (at_idx(…, i), i = 0..l-1, in every branch); they
      // differ only in which argument slot carries the seed. Binary ops
      // receive (elem, acc) in both directions; a fold-right LAMBDA
      // receives (acc, elem) — the reference's push order
      // (iter.c:1181-1199). Empty vector → the seed.
      case RList(RSym(dir @ ("fold-left" | "fold-right")) :: f :: a :: b :: Nil)
          if callable2(f, env) =>
        evalFoldDir(spark, dir, f, a, b, env, hook, out)

      // (scan f a b) — cumulative scan over whichever side is the
      // vector (core/iter.c:1212-1480): (scan f xs seed) runs
      // v = f(x_i, v) from v = f(x_0, seed); (scan f seed ys) runs
      // v = f(v, y_i); TWO vectors apply f PAIRWISE (the reference's
      // dual-vector branch does not thread the accumulator,
      // iter.c:1259-1263). One result entry per element.
      case RList(RSym("scan") :: f :: a :: b :: Nil) if callable2(f, env) =>
        evalScanForm(spark, f, a, b, env, hook, out)

      // vector sorts and ranking (core/env.c:148-153,216;
      // core/order.c:32-648): iasc/idesc = the stable sort
      // permutation, asc/desc = the sorted copy, rank = each
      // element's position in ascending order (res[perm[i]] = i,
      // order.c:519), reverse = reversal. Strings are C8 vectors, so
      // they sort and reverse charwise (lang.c string-take rule).
      case RList(RSym(op @ ("iasc" | "idesc" | "asc" | "desc" | "rank" |
          "reverse")) :: v :: Nil)
          if !isTableForm(v, env) =>
        evalVecSort(spark, op, ev(v))

      // (xrank v n) — n-tile bucket per element: bucket = rank·n div
      // len over the ascending sort permutation (core/order.c:598,
      // xrank_worker: out[perm[rank]] = rank*n/len)
      case RList(RSym("xrank") :: v :: nE :: Nil)
          if !isTableForm(v, env) =>
        evalXrank(spark, ev(v), num(ev(nE)))

      // (scan-left f xs seed) / (scan-right f seed xs) — like the
      // folds but emit every intermediate with the seed at index 0
      // (l+1 entries, core/iter.c:1482-1674). Both iterate the vector
      // left-to-right and hand f (elem, acc) — scan-right's lambda
      // push order matches its binary order here (iter.c:1641-1647).
      // Empty vector → EMPTY result (the reference returns LIST(0)
      // without the seed, iter.c:1504,1601).
      case RList(RSym(dir @ ("scan-left" | "scan-right")) :: f :: a :: b :: Nil)
          if callable2(f, env) =>
        evalScanDir(spark, dir, f, a, b, env, hook, out)
      case RList(RSym(agg @ ("sum" | "min" | "max" | "avg" | "med" | "dev"))
          :: v :: Nil)
          if !isTableForm(v, env) && vecValued(v, env) =>
        val value = ev(v)
        def distAgg(df: DataFrame, c: Column): RVal = {
          val a = agg match {
            case "sum" => sum(c); case "min" => min(c)
            case "max" => max(c); case "avg" => avg(c)
            case "med" => graft.functions.RF.med(c)
            case "dev" => graft.functions.RF.dev(c)
          }
          VAtom(df.agg(a.as("v")).collect().head.get(0))
        }
        value match {
          // aggregate distributed — a lazy vector may be any length
          case VRange(n, f) => return distAgg(spark.range(n).toDF(), f(col("id")))
          case VColView(df, base, off) =>
            return distAgg(df, if (off == 0L) col(base) else col(base) + off)
          case _ => ()
        }
        // null-skipping aggregation (tests/lang.c:2455-2501); empty/
        // all-null: sum = 0, the rest = null
        val xs0 = vec(value)
        val xs = xs0.filter(_ != null)
        if (agg == "med" || agg == "dev") {
          if (xs.isEmpty) return VAtom(null)
          val ds = xs.map { case d: java.lang.Double => d.doubleValue()
            case l: java.lang.Long => l.toDouble
            case x => throw new IllegalArgumentException(s"non-numeric $x") }
            .sorted
          return VAtom(java.lang.Double.valueOf(agg match {
            case "med" =>
              if (ds.length % 2 == 1) ds(ds.length / 2)
              else (ds(ds.length / 2 - 1) + ds(ds.length / 2)) / 2.0
            case "dev" =>
              val m = ds.sum / ds.length
              math.sqrt(ds.map(x => (x - m) * (x - m)).sum / ds.length)
          }))
        }
        if (xs.isEmpty)
          return if (agg == "sum") VAtom(0L) else VAtom(null)
        // min/max order ANY comparable type (dates etc.,
        // lang.c:2505,2532); sum/avg stay numeric
        if ((agg == "min" || agg == "max") && xs.exists(x =>
            !x.isInstanceOf[java.lang.Long] &&
              !x.isInstanceOf[java.lang.Double]))
          return VAtom(
            if (agg == "min") xs.reduce((a, b) => if (cmpAny(a, b) <= 0) a else b)
            else xs.reduce((a, b) => if (cmpAny(a, b) >= 0) a else b))
        val allLong = xs.forall(_.isInstanceOf[java.lang.Long])
        if (allLong) {
          val ls = xs.map(_.asInstanceOf[java.lang.Long].longValue())
          agg match {
            case "sum" => VAtom(java.lang.Long.valueOf(ls.sum))
            case "min" => VAtom(java.lang.Long.valueOf(ls.min))
            case "max" => VAtom(java.lang.Long.valueOf(ls.max))
            case "avg" => VAtom(java.lang.Double.valueOf(
              ls.sum.toDouble / ls.length))
          }
        } else {
          val ds = xs.map { case d: java.lang.Double => d.doubleValue()
            case l: java.lang.Long => l.toDouble
            case x => throw new IllegalArgumentException(s"non-numeric $x") }
          agg match {
            case "sum" => VAtom(java.lang.Double.valueOf(ds.sum))
            case "min" => VAtom(java.lang.Double.valueOf(ds.min))
            case "max" => VAtom(java.lang.Double.valueOf(ds.max))
            case "avg" => VAtom(java.lang.Double.valueOf(ds.sum / ds.length))
          }
        }

      case RList(RSym("til") :: n :: Nil) =>
        val k = num(ev(n))
        require(k >= 0, s"til: domain — negative length $k (lang.c:5224)")
        if (k >= lazyVecLen) VRange(k, id => id)
        else VVec(Vector.range(0L, k).map(x => x: Any))
      // (rand n bound): n draws in [0, bound) — DETERMINISTIC here
      // (hash-based; the reference's are random, tests/lang.c:5138-5147
      // only pin count/range, which hold either way)
      case RList(RSym("rand") :: n :: bound :: Nil)
          if !refsColumns(n, env) && !refsColumns(bound, env) =>
        val k = num(ev(n)); val b = num(ev(bound))
        require(k >= 0 && b > 0, "rand: domain")
        VVec(Vector.tabulate(k.toInt)(i =>
          java.lang.Math.floorMod(
            scala.util.hashing.MurmurHash3.productHash((i, b)).toLong, b): Any))
      case RList(RSym("guid") :: n :: Nil) =>
        val k = num(ev(n))
        if (k >= lazyVecLen) VRange(k, guidF)
        else VVec(Vector.tabulate(k.toInt)(i => guidOf(i): Any))
      case RList(RSym("take") :: x :: n :: Nil)
          if !isTableForm(x, env) && !isTableForm(n, env) =>
        val k = num(ev(n))
        ev(x) match {
          // STRING LITERALS are C8 VECTORS (lang.c:2646-2653): take
          // cycles over characters and yields a string. Symbols share
          // the runtime repr, so gate on the SYNTAX — (take 'AAPL 99)
          // must stay an atom-repeat (aj.rfl's symbol universe)
          case VAtom(s: String) if s.nonEmpty && x.isInstanceOf[RStr] =>
            val cs =
              if (k >= 0) (0 until k.toInt).map(i => s(i % s.length))
              else (0 until -k.toInt).map(i =>
                s(java.lang.Math.floorMod(k.toInt + i, s.length)))
            VAtom(cs.mkString)
          case VRange(sn, sf) =>
            require(sn > 0, "take from empty")
            if (k >= 0) VRange(k, id => sf(pmod(id, lit(sn))))
            else VRange(-k, id => sf(pmod(lit(k) + id, lit(sn))))
          case src0 =>
            val src = vec(src0)
            require(src.nonEmpty, "take from empty")
            if (math.abs(k) >= lazyVecLen)
              if (k >= 0) VRange(k, cycleF(src, 0L))
              else VRange(-k, cycleF(src, k))
            else if (k >= 0) VVec(Vector.tabulate(k.toInt)(i => src(i % src.length)))
            else VVec(Vector.tabulate(-k.toInt)(i =>
              src(java.lang.Math.floorMod(k.toInt + i, src.length))))
        }
      // string × string concatenation (lang.c:3748-3755): both sides
      // syntactically strings/chars; symbols (same runtime repr) keep
      // the vector path below
      case RList(RSym("concat") :: RStr(a) :: RStr(b) :: Nil) =>
        VAtom(a + b)
      case RList(RSym("concat") :: a :: b :: Nil) =>
        (ev(a), ev(b)) match {
          case (VRange(na, fa), VRange(nb, fb)) =>
            VRange(na + nb, id => when(id < na, fa(id)).otherwise(fb(id - na)))
          case (VRange(na, fa), bv) =>
            val xs = vec(bv)
            VRange(na + xs.length,
              id => when(id < na, fa(id)).otherwise(cycleF(xs, -na)(id)))
          case (av, VRange(nb, fb)) =>
            val xs = vec(av); val na = xs.length.toLong
            VRange(na + nb,
              id => when(id < na, cycleF(xs, 0L)(id)).otherwise(fb(id - na)))
          case (av, bv) => VVec(vec(av) ++ vec(bv))
        }
      case RList(RSym("list") :: items) =>
        val vals = items.map(ev)
        if (vals.forall(_.isInstanceOf[VAtom])) {
          val out = VVec(vals.map {
            case VAtom(x) => x
            case v => throw new RayfallError(s"list: expected atom, got $v")
          }.toVector)
          // carry each quoted symbol's repr so ser emits −6 for it
          out.symElems = vals.zipWithIndex.collect {
            case (a: VAtom, i) if a.symRepr => i
          }.toSet
          out
        }
        else VVec(vals.map(x => x: Any).toVector) // list of vectors (table cols)
      // value-level (as 'TYPE x): lazy on ranges, eager on driver values
      case RList(RSym("as") :: RQuote(t) :: x :: Nil)
          if !isTableForm(x, env) && !refsColumns(x, env) =>
        valueCast(spark, t, ev(x))
      // (enum 'domain v) — an enumerated vector; the reference stores an
      // index vector into the domain list (core/enum.c) but is value-wise
      // the symbol vector itself, which is what this value model carries
      // (tests/lang.c:4330-4339 window-join over enum columns)
      case RList(RSym("enum") :: RQuote(_) :: v :: Nil) => ev(v)
      // (ser v) / (de s) — value serde round-trip through the same
      // parseable s-expr text the generic set/get uses
      // (tests/lang.c:3245-3249; reference core/serde.c)
      // (ser x) → U8 byte vector in the reference's OWN binary wire
      // format (core/serde.c ser_obj/de_obj; worked bytes in
      // docs/.../serialization.md — round 10 closed the byte-compat
      // non-goal). ser is a VALUE operation: bounded by the driver cap
      // like every other materialization. (de bytes) reconstructs;
      // de of a STRING keeps the pre-round-10 s-expr text form.
      case RList(RSym("ser") :: x :: Nil) =>
        val v = ev(x) match {
          case cv: VColView => VVec(materialize(cv))
          case other => other
        }
        VVec(RaySerde.serialize(v).toVector
          .map(b => java.lang.Long.valueOf(b & 0xffL): Any))
      case RList(RSym("de") :: x :: Nil) => ev(x) match {
        case VVec(xs) if xs.nonEmpty &&
            xs.forall(_.isInstanceOf[java.lang.Long]) =>
          RaySerde.deserialize(spark,
            xs.map(v => v.asInstanceOf[java.lang.Long].toByte).toArray)
        case VAtom(s: String) => scriptValue(spark, s)
        case v => throw new IllegalArgumentException(
          s"de needs a byte vector or a string, got $v")
      }
      // value-level (row x): the reference's ray_row default arm returns
      // ops_count (core/compose.c:1203) — grouped/filtered forms are
      // handled inside select compilation
      case RList(RSym("row") :: x :: Nil) =>
        ev(RList(RSym("count") :: x :: Nil))
      case RList(RSym("count") :: x :: Nil) => ev(x) match {
        case VVec(xs) => VAtom(xs.length.toLong)
        case VTab(df) => VAtom(cachedCount(df))
        case VColView(df, _, _) => VAtom(cachedCount(df))
        case VRange(n, _) => VAtom(n)
        // strings are C8 vectors (lang.c:4097); dicts count their keys
        case VAtom(s: String) => VAtom(s.length.toLong)
        case VDict(ks, _) => VAtom(ks.length.toLong)
        case _ => VAtom(1L)
      }
      // (at t 'col) stays LAZY — a column view, not a driver vector
      // (the reference's columns are in-process; ours are unbounded)
      case RList(RSym("at") :: t :: RQuote(c) :: Nil) =>
        ev(t) match {
          case VTab(df) => VColView(df, c, 0L)
          case VDict(ks, vs) => ks.indexOf(c) match {
            case -1 => VAtom(null)
            case i => vs(i) match {
              case r: RVal => r
              case x => VAtom(x)
            }
          }
          case x => throw new IllegalArgumentException(s"at needs a table, got $x")
        }

      // (window-join … [k… t] intervals l r {aggs}) with BOUND interval
      // vectors: recover the constant offsets the docs construct them
      // with ((map-left + [lo hi] ts) ⇒ lo_i = ts_i + lo), then route to
      // the query-level operator. Non-uniform intervals are rejected.
      case RList(RSym(wj @ ("window-join" | "window-join1")) :: RVec(keys) ::
          RSym(intervalsName) :: l :: r :: RDict(aggPairs) :: Nil)
          if env.get(intervalsName).exists(_.isInstanceOf[VVec]) =>
        val VVec(iv) = env(intervalsName): @unchecked
        val ks = keyNames(keys)
        val left = ev(l) match { case VTab(df) => df
          case x => throw new IllegalArgumentException(s"bad left $x") }
        val (lo, hi) = iv match {
          // the docs' construction (map-left + [lo hi] (at l 'ts)) stayed
          // LAZY: offsets come straight off the column-view provenance —
          // zero distributed work, scale-safe at any left size
          case Vector(VColView(_, c1, o1), VColView(_, c2, o2))
              if c1 == ks.last && c2 == ks.last =>
            (o1, o2)
          // literal driver vectors (e.g. examples/window.rfl): these are
          // already driver-resident, so fetching the SAME NUMBER of ts
          // rows is bounded by an existing driver value — limit(n+1)
          // also catches a longer table without counting it
          case Vector(loRv: RVal, hiRv: RVal) =>
            val loV = loRv match { case VVec(a) => a
              case cv: VColView => materialize(cv)
              case x => throw new IllegalArgumentException(s"bad interval $x") }
            val hiV = hiRv match { case VVec(a) => a
              case cv: VColView => materialize(cv)
              case x => throw new IllegalArgumentException(s"bad interval $x") }
            val n = loV.length
            val ts = left.select(col(ks.last)).limit(n + 1).collect()
              .map(_.getLong(0))
            require(ts.length == n && hiV.length == n,
              "interval vectors must match the left row count")
            def offsets(bound: Vector[Any]): Long = {
              val off = bound.head.asInstanceOf[Long] - ts(0)
              require(ts.indices.forall(i =>
                bound(i).asInstanceOf[Long] - ts(i) == off),
                "only constant-offset intervals are supported")
              off
            }
            (offsets(loV), offsets(hiV))
          case x => throw new IllegalArgumentException(
            s"window-join intervals must be a list of two vectors, got $x")
        }
        // route to the SLIDING operator when every aggregate is a simple
        // (min|max|sum|count col) — no fan-out materialization, so the
        // reference's wide-window benchmark shapes run at O(n+m) per key;
        // otherwise the generic range join handles arbitrary aggregates
        val slidingAggs = aggPairs.map {
          case (as, RList(RSym(op @ ("min" | "max" | "sum" | "count")) ::
            RSym(c) :: Nil)) => Some(graft.operators.WindowJoin.Agg(op, c, as))
          case _ => None
        }
        val right = ev(r) match { case VTab(df) => df
          case x => throw new IllegalArgumentException(s"bad right $x") }
        val integralTs = Seq(left, right).forall(df =>
          df.schema(ks.last).dataType == org.apache.spark.sql.types.LongType ||
            df.schema(ks.last).dataType == org.apache.spark.sql.types.IntegerType)
        // value types the kernel does not read go the generic way too
        val slidingTypes = slidingAggs.flatten.forall(a =>
          right.schema.find(_.name == a.col).exists(f =>
            graft.operators.WindowJoin.slidingSupports(a.op, f.dataType)))
        val df =
          if (slidingAggs.forall(_.isDefined) && integralTs && slidingTypes)
            graft.operators.WindowJoin.windowJoinSliding(
              left, right, ks.init, ks.last, lo, hi,
              slidingAggs.flatten, jtype = if (wj == "window-join") 0 else 1)
          else {
            val form = RList(RSym(wj) :: RVec(keys) ::
              RVec(List(RNum(0.0, isInt = true, l = lo),
                RNum(0.0, isInt = true, l = hi))) :: l :: r :: RDict(aggPairs) :: Nil)
            eval(form, tablesOf)
          }
        hook(df)
        VTab(df)

      case RList(RSym(op @ ("+" | "-" | "*" | "/" | "%" | "div" | "xbar" |
          ">" | "<" | ">=" | "<=" | "==" | "=" | "!=")) :: a :: b :: Nil)
          if !isTableForm(a, env) && !isTableForm(b, env) &&
            (vecValued(a, env) || vecValued(b, env) ||
              (!refsColumns(a, env) && !refsColumns(b, env))) =>
        broadcastArith(op, ev(a), ev(b))

      // (round x) / (floor x) / (ceil x) — unary rounding over values:
      // f64 → f64 (round = half-AWAY, lang.c:2546-2561), integers pass
      // through, nulls/NaN propagate
      case RList(RSym(op @ ("round" | "floor" | "ceil")) :: v :: Nil)
          if !isTableForm(v, env) && !refsColumns(v, env) =>
        evalRoundOp(spark, op, ev(v))

      case RList(RSym("table") :: RVec(cols) :: listForm :: Nil) =>
        val colVals = ev(listForm) match {
          case VVec(xs) => xs
          case x => throw new IllegalArgumentException(s"table needs (list …), got $x")
        }
        val df = tableFromValues(spark, keyNames(cols), colVals)
        hook(df)
        VTab(df)

      case RList(RSym("exit") :: _) => VAtom(null)

      // value journal (reference hopen/write/read/hclose,
      // examples/journal.rfl; core/unary.c hopen): an append-only text
      // journal of s-exprs; read replays each record through the
      // evaluator (a logged (f args…) application re-executes)
      case RList(RSym("hopen") :: p :: Nil) =>
        ev(p) match {
          // "host:port" → IPC connection (reference hopen, core/ipc.c;
          // examples/ipc.rfl); anything else → journal file handle
          case VAtom(s: String) if s.matches("^[A-Za-z0-9_.-]+:\\d+$") =>
            val Array(host, portS) = s.split(":")
            val sock = new java.net.Socket(host, portS.toInt)
            val inS = new java.io.DataInputStream(
              new java.io.BufferedInputStream(sock.getInputStream))
            val outS = new java.io.DataOutputStream(
              new java.io.BufferedOutputStream(sock.getOutputStream))
            // reference handshake (Unix ipc_open, core/ipc.c): the
            // client sends [version, 0x00], the server replies ONE
            // byte (its version). Like the reference client, the reply
            // byte is consumed but NOT validated — cross-version peers
            // negotiate nothing; a non-rayforce peer surfaces later as
            // a bad-frame-prefix error from the first read.
            outS.write(RaySerde.Version); outS.write(0); outS.flush()
            val resp = new Array[Byte](1); inS.readFully(resp)
            VIpc(ipcClientSeq.incrementAndGet(), sock, inS, outS)
          case VAtom(s: String) =>
            val path = java.nio.file.Paths.get(s)
            if (!java.nio.file.Files.exists(path))
              java.nio.file.Files.createFile(path)
            VHandle(path)
          case x => throw new IllegalArgumentException(
            s"hopen needs a path or host:port, got $x")
        }
      case RList(RSym("write") :: h :: v :: Nil) =>
        // (write h v): to a FILE handle, append one headerless binary
        // ser_raw record — (list 'f args…) as the symbol-headed apply
        // record read REPLAYS (journal.rfl), any other value as itself;
        // to an IPC handle, ship the binary message (below). Both sides
        // are the reference's own byte layouts (core/io.c:343, ipc.c).
        ev(h) match {
          case handle: VHandle =>
            // journal record = headerless ser_raw bytes appended
            // (reference ray_write on a file fd, core/io.c:343-355).
            // A string-headed vector is journaled as the symbol-headed
            // APPLY record (the journal.rfl call convention) — symbols
            // and strings share one repr here (SURVEY §1.2), so a plain
            // symbol-vector VALUE is indistinguishable from a journaled
            // call and takes the apply reading, exactly as the old text
            // journal did.
            val value = ev(v)
            // a NON-EMPTY file whose first byte is not a plausible
            // record tag is a legacy round-9 TEXT journal: keep
            // appending text so the mixed file stays replayable
            val sniffKey = handle.path.toAbsolutePath.toString
            def fileStamp(p: java.nio.file.Path): (Long, Long) =
              (java.nio.file.Files.size(p),
                java.nio.file.Files.getLastModifiedTime(p).toMillis)
            val legacyText = {
              val p = handle.path
              java.nio.file.Files.exists(p) &&
                java.nio.file.Files.size(p) > 0 && {
                  // appends preserve a journal's format, so sniff a
                  // non-empty file ONCE per path — the ambiguous case
                  // below re-parses the whole file, which would make
                  // every (write h v) O(file size) otherwise. The
                  // verdict holds only while (size, mtime) match: our
                  // appends refresh the stamp below, anything else —
                  // including an equal-or-larger external rewrite in
                  // the other format — re-sniffs
                  val key = sniffKey
                  val (size, mtime) = fileStamp(p)
                  val cached = journalTextSniff.get(key)
                  if (cached != null && size == cached._2 &&
                      mtime == cached._3) cached._1
                  else {
                    val in0 = java.nio.file.Files.newInputStream(p)
                    val b0 = try in0.read() finally in0.close()
                    // valid record tags: null/err 126/127, vector tags
                    // 0-12, table/dict/lambda 98-100, atom tags 0xf4-0xff
                    val binaryTag = b0 == 126 || b0 == 127 ||
                      (b0 >= 0 && b0 <= 12) || (b0 >= 98 && b0 <= 100) ||
                      b0 >= 244
                    // the only tags in printable ASCII are 98-100
                    // ('b','c','d') and 126 ('~') — a legacy TEXT journal
                    // whose first record is a bare symbol like `banana`
                    // starts there too. Disambiguate by attempting a full
                    // binary record-stream parse: text never parses clean.
                    val ambiguous = binaryTag &&
                      ((b0 >= 98 && b0 <= 100) || b0 == 126)
                    val res =
                      if (!binaryTag) true
                      else if (!ambiguous) false
                      else !(try {
                        RaySerde.deserializeRawStream(spark,
                          java.nio.file.Files.readAllBytes(p)); true
                      } catch { case _: Exception => false })
                    journalTextSniff.put(key, (res, size, mtime))
                    res
                  }
                }
            }
            if (legacyText) {
              val symbolLike = "^[A-Za-z_][A-Za-z0-9_-]*$".r
              def encT(x: Any): String = x match {
                case s: String if symbolLike.matches(s) => s
                case s: String => "\"" +
                  s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
                case x => String.valueOf(x)
              }
              val rec = value match {
                case VVec(xs) => xs.map(encT).mkString("(", " ", ")")
                case VAtom(x) => encT(x)
                case other => valueText(other)
              }
              java.nio.file.Files.writeString(handle.path, rec + "\n",
                java.nio.file.StandardOpenOption.APPEND)
              val (s2, m2) = fileStamp(handle.path)
              journalTextSniff.put(sniffKey, (true, s2, m2))
            } else {
              val rec = value match {
                case VVec(xs) if xs.nonEmpty && xs.head.isInstanceOf[String] =>
                  xs.tail.foreach(ipcArgLit) // same arg set as replay
                  RaySerde.serializeRawApply(xs.head.asInstanceOf[String],
                    xs.tail)
                case other => RaySerde.serializeRawObj(other)
              }
              java.nio.file.Files.write(handle.path, rec,
                java.nio.file.StandardOpenOption.APPEND)
              // a first write to an empty file fixes the format too
              val (s2, m2) = fileStamp(handle.path)
              journalTextSniff.put(sniffKey, (false, s2, m2))
            }
            VAtom(null)
          case ipc: VIpc =>
            // remote call in the binary wire format: a STRING message
            // ships as a raw C8 code-text object (the reference's
            // "send code as a string" convention, core/ipc.c:382); a
            // (list 'f args…) record ships as a LIST [symbol, values]
            // apply message (eval_obj, core/ipc.c:388); msgtype 1 =
            // sync (await the response frame), 0 = async negated-handle
            // fire-and-forget. The server evaluates against its live
            // env and the VALUE comes back as a ser frame (ipc.rfl's
            // (write h (list 'f)) returns what f returns).
            val mt = if (ipc.async) 0 else 1
            val msgBytes = ev(v) match {
              case VAtom(s: String) => RaySerde.serialize(VAtom(s), mt)
              case VVec(xs) if xs.nonEmpty && xs.head.isInstanceOf[String] =>
                xs.tail.foreach(ipcArgLit) // fail fast before the write
                RaySerde.serializeApply(xs.head.asInstanceOf[String],
                  xs.tail, mt)
              case other => RaySerde.serialize(other, mt)
            }
            ipc.out.write(msgBytes)
            ipc.out.flush()
            if (ipc.async) VAtom(null)
            else try RaySerde.deserialize(spark, RaySerde.readFrame(ipc.in))
            catch {
              case e: RayfallError =>
                throw new RayfallError(s"ipc remote error: ${e.getMessage}")
            }
          case x => throw new IllegalArgumentException(s"write needs a handle, got $x")
        }
      case RList(RSym("read") :: h :: Nil) =>
        val handle = ev(h) match {
          case hd: VHandle => hd
          case x => throw new IllegalArgumentException(s"read needs a handle, got $x")
        }
        // binary journal (headerless ser_raw records, the reference's
        // ray_read/eval_obj replay, core/io.c:214-256): an apply record
        // [f, args…] re-executes, anything else is its value. Files
        // that do not parse as a clean record stream are legacy s-expr
        // text journals and replay through the parser as before.
        val jBytes = java.nio.file.Files.readAllBytes(handle.path)
        val binRecords =
          try Some(RaySerde.deserializeRawStreamTagged(spark, jBytes))
          catch { case _: Exception => None }
        binRecords match {
          case Some(records) =>
            var lastV: RVal = VAtom(null)
            records.foreach {
              // only LIST records (leading tag 0) replay as applies —
              // a foreign tag-6 symbol-vector record is a VALUE
              // (eval_obj returns symbol vectors, core/eval.c:884-893)
              case (0, VVec(xs)) if xs.nonEmpty &&
                  xs.head.isInstanceOf[String] =>
                lastV = ev(RList(RSym(xs.head.asInstanceOf[String]) ::
                  xs.tail.toList.map(ipcArgLit)))
              case (_, value) => lastV = value
            }
            lastV
          case None =>
            val p = new Parser(new String(jBytes, "UTF-8"))
            var lastV: RVal = VAtom(null)
            p.skipWs()
            while (!p.eof) {
              lastV = ev(p.parseExpr())
              p.skipWs()
            }
            lastV
        }
      case RList(RSym("hclose") :: h :: Nil) =>
        ev(h) match {
          case ipc: VIpc => try ipc.sock.close() catch { case _: Exception => () }
          case hd: VHandle =>
            // drop the format-sniff verdict: after close, an external
            // process may rewrite the file in the other format
            journalTextSniff.remove(hd.path.toAbsolutePath.toString)
          case _ => ()
        }
        VAtom(null)
      // (timestamp 'utc) — current time as nanos-since-epoch long (the
      // repo's TIMESTAMP convention)
      case RList(RSym("timestamp") :: _) =>
        VAtom(java.lang.Long.valueOf(System.currentTimeMillis() * 1000000L))
      // (date 'utc) / (time 'utc) — current clock date / millis since
      // midnight (reference core/date.c:138, core/time.c:126; the tz
      // symbol picks the zone, UTC default)
      case RList(RSym("date") :: Nil) | RList(RSym("date") :: RQuote(_) :: Nil) =>
        VAtom(java.time.LocalDate.now(java.time.ZoneOffset.UTC))
      case RList(RSym("time") :: Nil) | RList(RSym("time") :: RQuote(_) :: Nil) =>
        VAtom(java.lang.Long.valueOf(
          java.time.LocalTime.now(java.time.ZoneOffset.UTC).toNanoOfDay
            / 1000000L))
      // (return x) — in recursive eval return is just its value
      // (reference core/eval.c:899-907)
      case RList(RSym("return") :: rest) =>
        rest.headOption.map(ev).getOrElse(VAtom(null))
      // (rc x) — refcount introspection; JVM objects aren't refcounted,
      // report 1 (reference core/misc.c:85)
      case RList(RSym("rc") :: x :: Nil) => ev(x); VAtom(1L)
      // (env) — bound names; (internals) — runtime constants
      // (reference core/env.c:91, env.c:330)
      case RList(RSym("env") :: Nil) =>
        VVec(env.keys.toVector.sorted.map(s => s: Any))
      case RList(RSym("internals") :: Nil) =>
        VDict(Vector("pid"), Vector(ProcessHandle.current().pid()))
      // (diverse x) — typed vector → LIST of its elements; this value
      // model's vectors are already element-wise, so content-identity
      // (reference core/compose.c:1082, the inverse of unify)
      case RList(RSym("diverse") :: x :: Nil) => ev(x) match {
        case v: VVec => v
        case VAtom(x0) => VVec(Vector(x0))
        case other => other
      }
      // (unify x) — diverse's inverse: a LIST of same-type atoms becomes
      // a typed vector, anything else passes through (reference
      // core/compose.c:1089 → rayforce.c:583 unify_list). This value
      // model has no atom-list vs typed-vector representation split
      // (VVec is both), so unify, like diverse, is content-identity.
      case RList(RSym("unify") :: x :: Nil) => ev(x)

      // storage forms (reference set-splayed/get-splayed/get-parted,
      // core/io.c:1194, core/vary.c:176; examples/parted.rfl). The third
      // set-splayed arg is the reference's shared symfile — Parquet
      // dictionary encoding subsumes it, accepted and ignored.
      case RList(RSym("set-splayed") :: p :: t :: rest) if rest.length <= 1 =>
        val path = ev(p) match {
          case VAtom(s: String) => s
          case x => throw new IllegalArgumentException(s"set-splayed needs a path, got $x")
        }
        val df = ev(t) match {
          case VTab(d) => d
          case x => throw new IllegalArgumentException(s"set-splayed needs a table, got $x")
        }
        graft.sources.Store.setSplayed(df, path)
        VAtom(null)
      case RList(RSym("get-splayed") :: p :: Nil) =>
        val path = ev(p) match { case VAtom(s: String) => s
          case x => throw new IllegalArgumentException(s"bad path $x") }
        val df = graft.sources.Store.getSplayed(spark, path)
        hook(df); VTab(df)

      // (write-csv path t [sep]) — header CSV, the write side of the
      // typed read-csv (reference ray_write_csv, core/io.c:946). The
      // reference writes ONE file at exactly `path` (and the script
      // read-csv reads one file's header), so the part file is staged
      // and moved; the engine-level Store.writeCsv stays the
      // distributed multi-part form.
      case RList(RSym("write-csv") :: p :: t :: rest) if rest.length <= 1 =>
        val path = ev(p) match { case VAtom(s: String) => s
          case x => throw new IllegalArgumentException(s"write-csv needs a path, got $x") }
        val df = ev(t) match { case VTab(d) => d
          case x => throw new IllegalArgumentException(s"write-csv needs a table, got $x") }
        val sep = rest.headOption.map(ev(_) match {
          case VAtom(s: String) => s
          case x => throw new IllegalArgumentException(s"bad separator $x")
        }).getOrElse(",")
        evalWriteCsv(df, path, sep)

      // (set-parted dbpath 'tab t ['datecol]) — write the reference's
      // parted-DB layout: one splayed table dir per date,
      // root/yyyy.mm.dd/tab (exactly what get-parted above reads; the
      // reference's parted.rfl builds the same dirs via per-partition
      // set-splayed, and its 2-arg set-parted is plain ray_set,
      // core/vary.c:176). ONE partitionBy job writes every partition —
      // no per-date Spark job — then rename-only filesystem moves put
      // the dirs into the bare-date layout, bounded by the number of
      // PARTITIONS, not rows.
      case RList(RSym("set-parted") :: p :: tn :: t :: rest)
          if rest.length <= 1 =>
        val root = ev(p) match { case VAtom(s: String) => s
          case x => throw new IllegalArgumentException(s"set-parted needs a path, got $x") }
        val tab = tn match {
          case RQuote(n) => n
          case other => ev(other) match { case VAtom(s: String) => s
            case x => throw new IllegalArgumentException(s"bad table name $x") }
        }
        val df = ev(t) match { case VTab(d) => d
          case x => throw new IllegalArgumentException(s"set-parted needs a table, got $x") }
        val dateCol = rest.headOption.map {
          case RQuote(n) => n
          case other => ev(other) match { case VAtom(s: String) => s
            case x => throw new IllegalArgumentException(s"bad date column $x") }
        }.getOrElse("date")
        evalSetParted(df, root, tab, dateCol)
      // (except x y): table × symbol drops the column; vector × vector
      // filters members out (reference ray_except, core/items.c:916 —
      // TYPE_TABLE×-TYPE_SYMBOL and TYPE_I64/SYMBOL vector cases;
      // examples/flips.rfl (except … 'date), docs operations/iterable.md)
      case RList(RSym("except") :: a :: b :: Nil)
          if isTableForm(a, env) || !refsColumns(a, env) =>
        (ev(a), ev(b)) match {
          case (VTab(df), VAtom(c: String)) =>
            val r = df.drop(c); hook(r); VTab(r)
          case (VTab(df), VVec(cs)) =>
            val r = df.drop(cs.map(_.toString): _*); hook(r); VTab(r)
          case (av, bv) =>
            val excl = vec(bv).toSet
            VVec(vec(av).filterNot(excl))
        }
      // (read-csv [TYPE…] path): typed CSV read, column names from the
      // header line (reference ray_read_csv, core/io.c:670;
      // examples/flips.rfl). TIME columns land as the repo's
      // millis-since-midnight longs.
      case RList(RSym("read-csv") :: RVec(types) :: p :: Nil) =>
        val path = ev(p) match { case VAtom(s: String) => s
          case x => throw new IllegalArgumentException(s"bad csv path $x") }
        val tnames = keyNames(types)
        val header = scala.util.Using(scala.io.Source.fromFile(path))(
          _.getLines().next()).get.split(",", -1).map(_.trim).toSeq
        require(header.length == tnames.length,
          s"read-csv: ${tnames.length} types for ${header.length} header columns")
        import org.apache.spark.sql.types._
        val fields = header.zip(tnames).map { case (n, t) => StructField(n,
          t match {
            case "I64" | "I32" | "I16" => LongType
            case "F64" | "F32" => DoubleType
            case "DATE" => DateType
            case "SYMBOL" | "C8" | "GUID" | "STRING" => StringType
            case "TIME" => StringType // post-converted below
            case "TIMESTAMP" => TimestampType
            case x => throw new IllegalArgumentException(s"read-csv type $x")
          }, nullable = true) }
        var df = spark.read.schema(StructType(fields))
          .option("header", "true").option("dateFormat", "yyyy.MM.dd")
          .csv(path)
        header.zip(tnames).collect { case (n, "TIME") => n }.foreach { c =>
          val ps = split(col(c), "[:.]")
          // ANSI-safe fraction: element_at throws on a missing index, so
          // gate on size; rpad makes ".25" read as 250 ms, not 25
          df = df.withColumn(c,
            ((ps(0).cast("long") * 60 + ps(1).cast("long")) * 60 +
              ps(2).cast("long")) * 1000 +
              when(size(ps) >= 4, rpad(element_at(ps, 4), 3, "0").cast("long"))
                .otherwise(lit(0L)))
        }
        hook(df); VTab(df)
      // (get-parted dbpath 'tab): the reference's parted DB is bare
      // per-date dirs each holding a splayed table; the date dir name
      // comes back as the virtual `date` partition column. Listing is
      // driver-side but bounded by the number of PARTITIONS (dates), not
      // rows; each partition's read stays a lazy parquet scan.
      case RList(RSym("get-parted") :: p :: tExpr :: Nil) =>
        val root = ev(p) match { case VAtom(s: String) => s
          case x => throw new IllegalArgumentException(s"bad path $x") }
        val tab = tExpr match {
          case RQuote(n) => n
          case other => ev(other) match { case VAtom(s: String) => s
            case x => throw new IllegalArgumentException(s"bad table name $x") }
        }
        val dateRe = "^\\d{4}\\.\\d{2}\\.\\d{2}$".r
        val dirs = scala.jdk.CollectionConverters
          .IteratorHasAsScala(
            java.nio.file.Files.list(java.nio.file.Paths.get(root)).iterator())
          .asScala
          .filter(d => dateRe.matches(d.getFileName.toString) &&
            java.nio.file.Files.isDirectory(d.resolve(tab)))
          .toVector.sortBy(_.getFileName.toString)
        require(dirs.nonEmpty, s"no parted dirs under $root")
        // ONE multi-path scan relation, date derived from the file
        // path — an N-way unionByName of per-dir reads would give a
        // thousand-leaf plan on a real parted DB (one dir per date).
        // Driver-side listing stays bounded by the PARTITION count.
        val df = spark.read
          .parquet(dirs.map(_.resolve(tab).toString): _*)
          .withColumn("date", to_date(
            regexp_extract(input_file_name(),
              "/(\\d{4}\\.\\d{2}\\.\\d{2})/", 1), "yyyy.MM.dd"))
        hook(df); VTab(df)

      // in-place quoted forms (reference docs): the result replaces the
      // env binding — (update {… from: 'tab …}), (upsert 't n s),
      // (alter 't fn 'col v)
      case RList(RSym("update") :: RDict(pairs) :: Nil)
          if pairs.toMap.get("from").exists(_.isInstanceOf[RQuote]) =>
        val RQuote(name) = (pairs.toMap.apply("from"): RExpr): @unchecked
        val df = eval(RList(RSym("update") :: RDict(pairs) :: Nil), tablesOf)
        env(name) = VTab(df); hook(df); VTab(df)
      // (upsert t n src) — keyed merge on the first n columns; src may be
      // a table OR any of the insert value forms: list of atoms, list of
      // vectors, dict with reordered columns (examples/upsert.rfl).
      // Quoted target = in-place.
      case RList(RSym("upsert") :: target :: RNum(_, true, n) :: s :: Nil)
          if (target match {
            case RQuote(nm) => env.get(nm).exists(_.isInstanceOf[VTab])
            case RSym(nm) => env.get(nm).exists(_.isInstanceOf[VTab])
            case _ => isTableForm(target, env)
          }) =>
        val (nameOpt, df) = target match {
          case RQuote(nm) => (Some(nm), env(nm).asInstanceOf[VTab].df)
          case RSym(nm) => (None, env(nm).asInstanceOf[VTab].df)
          case other => (None, ev(other) match {
            case VTab(d) => d
            case x => throw new IllegalArgumentException(s"bad upsert target $x")
          })
        }
        val srcDf =
          if (isTableForm(s, env)) ev(s) match {
            case VTab(d) => d
            case x => throw new IllegalArgumentException(s"bad upsert source $x")
          }
          else insertRows(spark, df, s, ev)
        val res = Tbl(df).upsert(srcDf, df.columns.take(n.toInt).toSeq).df
        nameOpt.foreach(nm => env(nm) = VTab(res))
        hook(res); VTab(res)
      // (alter 'vec fn …) on VECTOR/LIST bindings (examples/update.rfl:
      // alter set at indices, concat-append, remove at indices;
      // reference core/update.c:268 alter on vectors)
      case RList(RSym("alter") :: RQuote(name) :: RSym("set") :: i :: v :: Nil)
          if env.get(name).exists(_.isInstanceOf[VVec]) =>
        val xs = env(name).asInstanceOf[VVec].xs
        val idxs = ev(i) match {
          case VAtom(l: java.lang.Long) => Vector(l.toInt)
          case VVec(is) => is.map {
            case l: java.lang.Long => l.toInt
            case x => throw new IllegalArgumentException(s"bad index $x")
          }
          case x => throw new IllegalArgumentException(s"bad alter index $x")
        }
        val vals = ev(v) match {
          case VAtom(x) => idxs.map(_ => x) // atom broadcasts to all indices
          case VVec(vs) =>
            require(vs.length == idxs.length, "alter set length mismatch")
            vs
          case x => throw new IllegalArgumentException(s"bad alter value $x")
        }
        val res = VVec(idxs.zip(vals).foldLeft(xs) {
          case (acc, (ix, value)) => acc.updated(ix, value) })
        env(name) = res; res
      case RList(RSym("alter") :: RQuote(name) :: RSym("concat") :: v :: Nil)
          if env.get(name).exists(_.isInstanceOf[VVec]) =>
        val xs = env(name).asInstanceOf[VVec].xs
        val res = VVec(ev(v) match {
          case VAtom(x) => xs :+ x
          case VVec(vs) => xs ++ vs
          case x => throw new IllegalArgumentException(s"bad alter concat $x")
        })
        env(name) = res; res
      case RList(RSym("alter") :: RQuote(name) :: RSym("remove") :: i :: Nil)
          if env.get(name).exists(_.isInstanceOf[VVec]) =>
        val xs = env(name).asInstanceOf[VVec].xs
        val drop = (ev(i) match {
          case VAtom(l: java.lang.Long) => Vector(l.toInt)
          case VVec(is) => is.map(_.asInstanceOf[java.lang.Long].toInt)
          case x => throw new IllegalArgumentException(s"bad remove index $x")
        }).toSet
        val res = VVec(xs.zipWithIndex.collect {
          case (x, ix) if !drop(ix) => x })
        env(name) = res; res
      case RList(RSym("alter") :: RQuote(name) :: fn :: c :: v :: Nil)
          if env.get(name).exists(_.isInstanceOf[VTab]) =>
        val df = eval(RList(RSym("alter") :: RSym(name) :: fn :: c :: v :: Nil),
          tablesOf)
        env(name) = VTab(df); hook(df); VTab(df)

      // (modify 'name f [i …] v) — nested amend (reference ray_modify,
      // core/update.c:359: dot_obj walks every index but the LAST,
      // __alter applies f at the last): the element at the index path
      // becomes f(elem, v); 'set replaces it outright. A quoted target
      // rebinds the environment, a value target returns the amended
      // copy. Dict hops take the key symbol; vector hops take indices.
      case RList(RSym("modify") :: target :: f :: i :: v :: Nil)
          if (f match {
            case RSym("set") => true
            case other => callable2(other, env)
          }) && (target match {
            case RQuote(nm) => env.contains(nm)
            case _ => !isTableForm(target, env)
          }) =>
        val path: List[Any] = i match {
          case RQuote(k) => List(k)
          case _ => ev(i) match {
            case VAtom(x) => List(x)
            case VVec(xs) => xs.toList
            case x => throw new IllegalArgumentException(s"bad modify path $x")
          }
        }
        target match {
          case RQuote(nm) =>
            val res = evalModify(spark, f, path, ev(v), env(nm), env, hook, out)
            env(nm) = res; res
          case other =>
            evalModify(spark, f, path, ev(v), ev(other), env, hook, out)
        }

      // first-class dict values (core/compose.c:205): values from a
      // (list …) or a vector literal, zipped with the keys
      case RList(RSym("dict") :: RVec(ks) :: vForm :: Nil) =>
        val names = keyNames(ks).toVector
        val vals: Vector[Any] = ev(vForm) match {
          case VVec(xs) => xs.map {
            case VAtom(x) => x
            case other => other
          }
          case VAtom(x) => Vector(x)
          case d: VDict => Vector(d)
          case x => throw new IllegalArgumentException(s"bad dict values $x")
        }
        require(names.length == vals.length,
          s"dict: ${names.length} keys for ${vals.length} values")
        VDict(names, vals)
      case RList(RSym("key") :: d :: Nil) if !isTableForm(d, env) =>
        ev(d) match {
          case VDict(ks, _) => VVec(ks.map(x => x: Any))
          case x => throw new IllegalArgumentException(s"key needs a dict, got $x")
        }
      case RList(RSym("value") :: d :: Nil) if !isTableForm(d, env) =>
        ev(d) match {
          case VDict(_, vs) => VVec(vs)
          case x => throw new IllegalArgumentException(s"value needs a dict, got $x")
        }

      // (insert t rows) / (insert 't rows) — append with the reference's
      // literal row forms (examples/insert.rfl): list-of-atoms (one row),
      // list-of-vectors (columns), dict with reordered or partial columns
      // (missing → null), or another table. Quoted target = in-place
      // (the env binding is replaced).
      case RList(RSym("insert") :: target :: rowsForm :: Nil) =>
        val (name, targetDf) = target match {
          case RQuote(n) => (Some(n), env(n) match {
            case VTab(df) => df
            case x => throw new IllegalArgumentException(s"'$n is not a table ($x)")
          })
          case other => (None, ev(other) match {
            case VTab(df) => df
            case x => throw new IllegalArgumentException(s"bad insert target $x")
          })
        }
        val rowsDf = insertRows(spark, targetDf, rowsForm, ev)
        val res = targetDf.unionByName(rowsDf)
        name.foreach(n => env(n) = VTab(res))
        hook(res)
        VTab(res)

      // ------------------------------------------------- value library
      // Driver-value analogs of the reference's vector builtins, pinned
      // group-by-group from tests/lang.c in LangSpec (cited line ranges
      // there). Guards route column-referencing forms to the query
      // translator untouched.
      case RList(RSym("do") :: forms) if forms.nonEmpty =>
        forms.map(ev).last
      case RList(RSym("raise") :: m :: Nil) =>
        throw new RayfallError(ev(m) match {
          case VAtom(s: String) => s
          case x => x.toString
        })
      case RList(RSym("try") :: body :: handler :: Nil) =>
        try ev(body)
        catch {
          case scala.util.control.NonFatal(ex) =>
            val (ps, bodies) = fnOf(handler, env)
            applyFn(spark, ps, bodies,
              Seq(VAtom(Option(ex.getMessage).getOrElse(ex.getClass.getName))),
              env, hook, out)
        }
      case RList(RSym("neg") :: x :: Nil)
          if !isTableForm(x, env) && !refsColumns(x, env) =>
        ev(x) match {
          // (neg h) on an IPC handle = the ASYNC handle (the reference's
          // negated-handle convention, docs/.../IPC.md): write on it is
          // fire-and-forget — no reply frame
          case ipc: VIpc => ipc.copy(id = -ipc.id, async = true)
          case v => broadcastArith("-", VAtom(java.lang.Long.valueOf(0L)), v)
        }
      case RList(RSym("not") :: x :: Nil)
          if !isTableForm(x, env) && !refsColumns(x, env) =>
        def nb(v: Any): Any = v match {
          case b: java.lang.Boolean => java.lang.Boolean.valueOf(!b)
          case x => throw new IllegalArgumentException(s"not needs booleans, got $x")
        }
        ev(x) match {
          case VAtom(v) => VAtom(nb(v))
          case other => VVec(vec(other).map(nb))
        }
      case RList(RSym(op @ ("or" | "and")) :: args) if args.length >= 2 &&
          args.forall(a => !isTableForm(a, env) && !refsColumns(a, env)) =>
        def bb(x: Any, y: Any): Any = (x, y) match {
          case (a: java.lang.Boolean, b: java.lang.Boolean) =>
            java.lang.Boolean.valueOf(if (op == "or") a || b else a && b)
          case _ => throw new IllegalArgumentException(s"$op needs booleans")
        }
        args.map(ev).reduce { (a, b) => (a, b) match {
          case (VAtom(x), VAtom(y)) => VAtom(bb(x, y))
          case (VVec(xs), VAtom(y)) => VVec(xs.map(bb(_, y)))
          case (VAtom(x), VVec(ys)) => VVec(ys.map(bb(x, _)))
          case (VVec(xs), VVec(ys)) =>
            require(xs.length == ys.length, s"$op length mismatch")
            VVec(xs.lazyZip(ys).map(bb).toVector)
          case x => throw new IllegalArgumentException(s"bad $op args $x")
        }}
      case RList(RSym("where") :: m :: Nil)
          if !isTableForm(m, env) && !refsColumns(m, env) =>
        VVec(vec(ev(m)).zipWithIndex.collect {
          case (b: java.lang.Boolean, i) if b => i.toLong: Any })
      case RList(RSym("group") :: v :: Nil)
          if !isTableForm(v, env) && !refsColumns(v, env) =>
        val order = scala.collection.mutable.LinkedHashMap[String, Vector[Any]]()
        vec(ev(v)).zipWithIndex.foreach { case (x, i) =>
          val k = String.valueOf(x)
          order(k) = order.getOrElse(k, Vector.empty) :+ (i.toLong: Any)
        }
        VDict(order.keys.toVector,
          order.values.map(ix => VVec(ix): Any).toVector)
      case RList(RSym(op @ ("union" | "sect")) :: a :: b :: Nil)
          if Seq(a, b).forall(x => !isTableForm(x, env) && !refsColumns(x, env)) =>
        val (xs, ys) = (vec(ev(a)), vec(ev(b)))
        if (op == "union") VVec((xs ++ ys).distinct)
        else { val s = ys.toSet; VVec(xs.filter(s)) }
      case RList(RSym("within") :: x :: b :: Nil)
          if !isTableForm(x, env) && !refsColumns(x, env) && !refsColumns(b, env) =>
        def cd(v: Any): Double = v match {
          case l: java.lang.Long => l.toDouble
          case d: java.lang.Double => d
          case x => throw new IllegalArgumentException(s"non-numeric $x")
        }
        val bounds = vec(ev(b))
        require(bounds.length == 2, "within needs [lo hi]")
        val (lo, hi) = (cd(bounds(0)), cd(bounds(1)))
        def w(v: Any): Any =
          java.lang.Boolean.valueOf(cd(v) >= lo && cd(v) <= hi)
        ev(x) match {
          case VAtom(v) => VAtom(w(v))
          case other => VVec(vec(other).map(w))
        }
      case RList(RSym("find") :: v :: x :: Nil)
          if !isTableForm(v, env) && !refsColumns(v, env) && !refsColumns(x, env) =>
        val src: Vector[Any] = ev(v) match {
          case VAtom(s: String) => s.toVector.map(_.toString: Any)
          case other => vec(other)
        }
        def idx(t: Any): Any = src.indexOf(t) match {
          case -1 => null
          case i => i.toLong
        }
        ev(x) match {
          // empty source + vector probe yields [] (lang.c:5124)
          case VVec(ts) =>
            if (src.isEmpty) VVec(Vector.empty) else VVec(ts.map(idx))
          case VAtom(t) => VAtom(idx(t))
          case other => VVec(vec(other).map(idx))
        }
      case RList(RSym("at") :: x :: i :: Nil)
          if !refsColumns(x, env) && !refsColumns(i, env) =>
        def el(xs: Vector[Any], k: Long): Any =
          if (k < 0 || k >= xs.length) null
          else xs(k.toInt) match { case r: RVal => r; case v => v }
        (ev(x), ev(i)) match {
          case (VAtom(s: String), VAtom(k: java.lang.Long)) =>
            VAtom(if (k < 0 || k >= s.length) null else s(k.toInt).toString)
          case (VAtom(s: String), VVec(ks)) =>
            VAtom(ks.map { case k: java.lang.Long => s(k.toInt) }.mkString)
          case (VTab(df), VAtom(k: java.lang.Long)) =>
            // one bounded driver row — a row DICT (lang.c:4478-4481)
            require(k >= 0 && k < maxDriverVec, s"row index $k out of range")
            val rows = df.limit(k.toInt + 1).collect()
            require(rows.length > k, s"row $k beyond table end")
            VDict(df.columns.toVector, rows(k.toInt).toSeq.toVector)
          case (vv, VAtom(k: java.lang.Long)) => el(vec(vv), k) match {
            case r: RVal => r
            case v => VAtom(v)
          }
          case (vv, VVec(ks)) =>
            val xs = vec(vv)
            VVec(ks.map { case k: java.lang.Long => el(xs, k) })
          case x => throw new IllegalArgumentException(s"bad at args $x")
        }
      case RList(RSym(fl @ ("first" | "last")) :: x :: Nil)
          if !refsColumns(x, env) =>
        ev(x) match {
          case VAtom(s: String) =>
            VAtom(if (s.isEmpty) null
              else (if (fl == "first") s.head else s.last).toString)
          case VAtom(v) => VAtom(v)
          case VTab(df) =>
            val r = if (fl == "first") df.limit(1).collect() else df.tail(1)
            r.headOption
              .map(row => VDict(df.columns.toVector, row.toSeq.toVector))
              .getOrElse(VAtom(null))
          case VDict(ks, vs) =>
            if (ks.isEmpty) VAtom(null)
            else (if (fl == "first") vs.head else vs.last) match {
              case r: RVal => r
              case v => VAtom(v)
            }
          // lazy values: one-row actions, no driver materialization
          case cv: VColView =>
            val one = cv.df.select(col(cv.base))
            val r = if (fl == "first") one.limit(1).collect() else one.tail(1)
            r.headOption.map { row =>
              VAtom(row.get(0) match {
                case l: java.lang.Long if cv.offset != 0L =>
                  java.lang.Long.valueOf(l + cv.offset): Any
                case i: java.lang.Integer if cv.offset != 0L =>
                  java.lang.Long.valueOf(i.longValue + cv.offset): Any
                case x => x
              })
            }.getOrElse(VAtom(null))
          case VRange(n, f) =>
            if (n == 0) VAtom(null)
            else {
              val id = if (fl == "first") 0L else n - 1
              VAtom(spark.range(id, id + 1).select(f(col("id")))
                .collect()(0).get(0))
            }
          case other =>
            val xs = vec(other)
            if (xs.isEmpty) VAtom(null)
            else (if (fl == "first") xs.head else xs.last) match {
              case r: RVal => r
              case v => VAtom(v)
            }
        }
      case RList(RSym("raze") :: x :: Nil)
          if !isTableForm(x, env) && !refsColumns(x, env) =>
        ev(x) match {
          case VVec(xs) => VVec(xs.flatMap {
            case VVec(ys) => ys
            case r: VRange => materializeRange(spark, r)
            case v => Vector(v)
          })
          case v => v // (raze atom) is the atom (lang.c:3837)
        }
      case RList(RSym("enlist") :: args) if args.nonEmpty &&
          args.forall(a => !isTableForm(a, env) && !refsColumns(a, env)) =>
        VVec(args.map(a => ev(a) match {
          case VAtom(x) => x
          case other => other: Any
        }).toVector)
      case RList(RSym("split") :: a :: b :: Nil)
          if !isTableForm(a, env) && !refsColumns(a, env) && !refsColumns(b, env) =>
        (ev(a), ev(b)) match {
          case (VAtom(s: String), VAtom(d: String)) =>
            VVec(s.split(java.util.regex.Pattern.quote(d), -1).toVector)
          case (src, other) =>
            val ks = vec(other)
            if (ks.isEmpty) VAtom(null) // (split v []) (lang.c:2851-2852)
            else {
              val starts = ks.map {
                case l: java.lang.Long => l.toInt
                case x => throw new IllegalArgumentException(s"bad index $x")
              }
              src match {
                case VAtom(s: String) =>
                  VVec((starts :+ s.length).sliding(2)
                    .map(p => s.substring(p(0), p(1)): Any).toVector)
                case other2 =>
                  val xs = vec(other2)
                  VVec((starts :+ xs.length).sliding(2)
                    .map(p => VVec(xs.slice(p(0), p(1))): Any).toVector)
              }
            }
        }
      case RList(RSym("in") :: x :: y :: Nil)
          if Seq(x, y).forall(e => !isTableForm(e, env) && !refsColumns(e, env)) =>
        val yv = ev(y)
        val member: Any => Boolean = yv match {
          case VAtom(s: String) => {
            case c: String => s.contains(c)
            case _ => false
          }
          case VAtom(v) => t => t == v
          case other => val ys = vec(other); t => ys.contains(t)
        }
        ev(x) match {
          // string probe: per-character membership (lang.c:3872-3874)
          case VAtom(s: String) if s.length > 1 =>
            VVec(s.toVector.map(c =>
              java.lang.Boolean.valueOf(member(c.toString)): Any))
          case VAtom(v) => VAtom(java.lang.Boolean.valueOf(member(v)))
          case other => VVec(vec(other).map(t =>
            java.lang.Boolean.valueOf(member(t)): Any))
        }
      case RList(RSym(bf @ ("bin" | "binr")) :: v :: x :: Nil)
          if !isTableForm(v, env) && !refsColumns(v, env) && !refsColumns(x, env) =>
        val xs = vec(ev(v)).map {
          case l: java.lang.Long => l.longValue
          case x => throw new IllegalArgumentException(s"bin needs integers, got $x")
        }
        def one(t: Long): Any =
          if (bf == "bin") { // greatest i with xs(i) <= t; -1 if none
            var i = xs.length - 1
            while (i >= 0 && xs(i) > t) i -= 1
            i.toLong
          } else { // least i with xs(i) >= t
            var i = 0
            while (i < xs.length && xs(i) < t) i += 1
            i.toLong
          }
        ev(x) match {
          case VAtom(l: java.lang.Long) => VAtom(one(l))
          case other => VVec(vec(other).map {
            case l: java.lang.Long => one(l)
            case x => throw new IllegalArgumentException(s"bad bin probe $x")
          })
        }
      case RList(RSym("distinct") :: v :: Nil)
          if !isTableForm(v, env) && !refsColumns(v, env) =>
        VVec(vec(ev(v)).distinct)
      // table × boolean-mask filter (lang.c:3860): positional, driver-
      // bounded; the column-predicate form stays with the query evaluator
      case RList(RSym("filter") :: v :: mask :: Nil)
          if isTableForm(v, env) && !refsColumns(mask, env) =>
        val df = ev(v) match { case VTab(d) => d
          case x => throw new IllegalArgumentException(s"bad filter table $x") }
        val ms = vec(ev(mask))
        require(ms.length <= maxDriverVec.toInt, "mask too large for driver filter")
        val rows = df.limit(ms.length + 1).collect()
        require(rows.length == ms.length, "filter length mismatch")
        val kept = rows.zip(ms).collect {
          case (r, b: java.lang.Boolean) if b => r }
        val res = spark.createDataFrame(
          java.util.Arrays.asList(kept: _*), df.schema)
        hook(res); VTab(res)

      // application of a lambda VALUE by name, with `self` recursion
      // (fib.rfl: (fib 20) → applyFn binds self → (self (- x 1)) recurses)
      case RList(RSym(f) :: args) if env.get(f).exists(_.isInstanceOf[VFn]) =>
        val fn = env(f).asInstanceOf[VFn]
        applyFn(spark, fn.params, fn.bodies, args.map(ev), env, hook, out,
          self = Some(fn))

      // application of a loadfn-loaded native function
      case RList(RSym(f) :: args) if env.get(f).exists(_.isInstanceOf[VNative]) =>
        env(f).asInstanceOf[VNative].f(args.map(ev))

      // everything else: a query/table form for the Column-level evaluator
      case other =>
        val df = eval(other, tablesOf)
        hook(df)
        VTab(df)
    }
  }

  /** Build the rows-to-append DataFrame for a script `insert`, aligned
    * and cast to the target's schema; absent columns become nulls. */
  private def insertRows(spark: SparkSession,
                         target: DataFrame, rowsForm: RExpr,
                         ev: RExpr => RVal): DataFrame = {
    val (names, cols): (Seq[String], Seq[Vector[Any]]) = rowsForm match {
      // (dict [names…] (list …)) — named, possibly reordered/partial
      case RList(RSym("dict") :: RVec(ns) :: RList(RSym("list") :: items) :: Nil) =>
        val vals = items.map(ev)
        val columns =
          if (vals.forall(_.isInstanceOf[VAtom]))
            vals.map {
              case VAtom(x) => Vector(x)
              case v => throw new RayfallError(s"insert: expected atom, got $v")
            }
          else vals.map {
            case VVec(xs) => xs
            case VAtom(x) => Vector(x)
            case x => throw new IllegalArgumentException(s"bad dict value $x")
          }
        (keyNames(ns), columns)
      // positional forms: one row of atoms, or a list of column vectors
      case other => ev(other) match {
        case VTab(df) => return df
          .select(target.columns.map(c =>
            col(c).cast(target.schema(c).dataType)): _*)
        case VVec(xs) if xs.forall(!_.isInstanceOf[RVal]) =>
          (target.columns.toSeq, xs.map(Vector(_)))
        case VVec(xs) =>
          (target.columns.toSeq, xs.map {
            case VVec(ys) => ys
            case VAtom(y) => Vector(y)
            case y => Vector(y)
          })
        case x => throw new IllegalArgumentException(s"bad insert rows $x")
      }
    }
    require(names.length == cols.length,
      s"insert: ${names.length} names for ${cols.length} columns")
    val n = cols.head.length
    require(cols.forall(_.length == n), "insert: ragged columns")
    val byName = names.zip(cols).toMap
    val data = (0 until n).map { i =>
      org.apache.spark.sql.Row.fromSeq(target.columns.toSeq.map(c =>
        byName.get(c).map(_(i)).orNull))
    }
    // long literals may feed double columns — coerce to the target type
    val coerced = data.map(r => org.apache.spark.sql.Row.fromSeq(
      target.schema.fields.toSeq.zip(r.toSeq).map {
        case (f, l: java.lang.Long)
          if f.dataType == org.apache.spark.sql.types.DoubleType =>
          l.doubleValue()
        case (_, v) => v
      }))
    spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(coerced).asJava),
      org.apache.spark.sql.types.StructType(
        target.schema.fields.map(_.copy(nullable = true))))
  }

  /** Is this sub-form one the table-level evaluator owns? (Arithmetic on
    * driver values vs column expressions inside queries are separated by
    * context: script-level arith runs on values.) */
  private def isTableForm(e: RExpr,
                          env: scala.collection.mutable.Map[String, RVal]): Boolean =
    e match {
      case RSym(n) => env.get(n).exists(_.isInstanceOf[VTab])
      case RList(RSym(f) :: _) =>
        Set("select", "update", "insert", "upsert", "left-join", "inner-join",
          "asof-join", "window-join", "window-join1", "distinct", "xasc",
          "xdesc", "alter", "table").contains(f)
      case _ => false
    }

  /** Value-level lambda application: params bound in a child scope;
    * `self` (when given) enables recursion per the reference's lambda
    * convention (examples/fib.rfl). */
  private def applyFn(spark: SparkSession, names: Seq[String],
                      bodies: Seq[RExpr], args: Seq[RVal],
                      env: scala.collection.mutable.Map[String, RVal],
                      hook: DataFrame => Unit,
                      out: StringBuilder = new StringBuilder,
                      self: Option[VFn] = None): RVal = {
    require(names.length == args.length, "lambda arity mismatch")
    val inner = env.clone()
    names.zip(args).foreach { case (p, a) => inner(p) = a }
    self.foreach(f => inner("self") = f)
    // multi-form bodies evaluate in order; the last value is the result
    bodies.map(b => evalScript(spark, b, inner, hook, out)).last
  }

  /** Is the sub-form vector-valued in the script env (so script-level
    * arithmetic should own it rather than the Column translator)? */
  private def vecValued(e: RExpr,
                        env: scala.collection.mutable.Map[String, RVal]): Boolean =
    e match {
      case RSym("true" | "false" | "null") => true
      case RSym(n) => env.get(n).exists(v =>
        v.isInstanceOf[VVec] || v.isInstanceOf[VAtom] ||
          v.isInstanceOf[VColView] || v.isInstanceOf[VRange])
      case RVec(_) => true
      case RNum(_, _, _) | RStr(_) | RQuote(_) | RDate(_) | RNull => true
      case RList(RSym("til" | "take" | "concat" | "list" | "map" | "pmap" |
        "map-left" | "map-right" | "filter" | "fold" | "sum" | "min" | "max" |
        "avg" | "count" | "at" | "as" | "guid" | "+" | "-" | "*" | "/" | "%" |
        ">" | "<" | ">=" | "<=" | "==" | "=" | "!=" |
        "rand" | "where" | "distinct" | "union" | "sect" | "except" | "find" |
        "raze" | "enlist" | "split" | "in" | "bin" | "binr" | "neg" | "not" |
        "within" | "first" | "last" | "med" | "dev" | "group" | "or" | "and" |
        "asc" | "desc" | "iasc" | "idesc" | "rank" | "xrank" | "reverse" |
        "scan" | "scan-left" | "scan-right" |
        "get") :: rest) =>
        rest.forall(x => vecValued(x, env) || !refsColumns(x, env))
      case RList(RList(RSym("fn") :: _) :: _) => true
      case _ => false
    }

  /** Does the form reference an unbound symbol (i.e. a table column)? */
  private def refsColumns(e: RExpr,
                          env: scala.collection.mutable.Map[String, RVal]): Boolean =
    e match {
      case RSym("true" | "false" | "null") => false // literals, not columns
      case RSym(n) => !env.contains(n)
      // the combinators take an OPERATOR symbol first — not a column ref
      case RList(RSym("map-left" | "map-right" | "fold" | "map" | "pmap" |
          "scan" | "scan-left" | "scan-right" | "fold-left" | "fold-right") ::
          RSym(_) :: rest) => rest.exists(refsColumns(_, env))
      case RList(RSym(_) :: rest) => rest.exists(refsColumns(_, env))
      case RList(items) => items.exists(refsColumns(_, env))
      case RVec(items) => items.exists {
        case RSym(_) => false // symbol literal inside a vector
        case x => refsColumns(x, env)
      }
      case RDict(pairs) => pairs.exists(p => refsColumns(p._2, env))
      case _ => false
    }

  /** Element-wise arithmetic/comparison with scalar↔vector broadcast;
    * `/` and `%` are Euclidean on integers (core/ops.h:171-183). */
  private def broadcastArith(op: String, a: RVal, b: RVal): RVal = {
    // column view ± integer constant stays lazy (offset provenance);
    // anything else materializes under the size guard
    (op, a, b) match {
      case ("+", VColView(df, c, o), VAtom(l: java.lang.Long)) =>
        return VColView(df, c, o + l)
      case ("+", VAtom(l: java.lang.Long), VColView(df, c, o)) =>
        return VColView(df, c, o + l)
      case ("-", VColView(df, c, o), VAtom(l: java.lang.Long)) =>
        return VColView(df, c, o - l)
      case _ => ()
    }
    // lazy ranges compose column-wise — no materialization at any length
    (a, b) match {
      case (VRange(n, f), VAtom(x)) =>
        return VRange(n, id => colOp(op, f(id), lit(x)))
      case (VAtom(x), VRange(n, f)) =>
        return VRange(n, id => colOp(op, lit(x), f(id)))
      case (VRange(n1, f1), VRange(n2, f2)) =>
        require(n1 == n2, "vector length mismatch")
        return VRange(n1, id => colOp(op, f1(id), f2(id)))
      case (VRange(n1, f1), VVec(xs)) =>
        require(n1 == xs.length, "vector length mismatch")
        return VRange(n1, id => colOp(op, f1(id), cycleF(xs, 0L)(id)))
      case (VVec(xs), VRange(n2, f2)) =>
        require(xs.length == n2, "vector length mismatch")
        return VRange(n2, id => colOp(op, cycleF(xs, 0L)(id), f2(id)))
      case _ => ()
    }
    def asVec(v: RVal): Option[Vector[Any]] = v match {
      case VVec(xs) => Some(xs)
      case cv: VColView => Some(materialize(cv))
      case _ => None
    }
    val isCmp = op match {
      case ">" | "<" | ">=" | "<=" | "==" | "=" | "!=" => true
      case _ => false
    }
    def cmpBool(c: Int): Any = op match {
      case ">" => java.lang.Boolean.valueOf(c > 0)
      case "<" => java.lang.Boolean.valueOf(c < 0)
      case ">=" => java.lang.Boolean.valueOf(c >= 0)
      case "<=" => java.lang.Boolean.valueOf(c <= 0)
      case "==" | "=" => java.lang.Boolean.valueOf(c == 0)
      case "!=" => java.lang.Boolean.valueOf(c != 0)
    }
    def scalar(x: Any, y: Any): Any = (x, y) match {
      // comparisons are a TOTAL ORDER with null smallest, and nulls of
      // every type equal each other (the lang.c:3380-3719 comparison
      // matrices: (== 0Ni 0Nf) → true, (< 0Ni -2) → true)
      case (null, _) | (_, null) if isCmp =>
        cmpBool((if (x == null) 0 else 1) - (if (y == null) 0 else 1))
      // null propagation (tests/lang.c:77-90): arithmetic with a null
      // yields null
      case (null, _) | (_, null) => null
      // strings (and chars — 1-char strings here) compare
      // lexicographically, cross-compatibly (lang.c:3313-3378)
      case (s1: String, s2: String) if isCmp => cmpBool(s1.compareTo(s2))
      case (b1: java.lang.Boolean, b2: java.lang.Boolean) if isCmp =>
        cmpBool(b1.compareTo(b2))
      case (d1: java.time.LocalDate, d2: java.time.LocalDate) if isCmp =>
        cmpBool(d1.compareTo(d2))
      // DATE ± days stays a date (reference DATE = i32 days since
      // 2000.01.01, core/date.c:34; parted.rfl (+ 2024.01.01 x))
      case (d: java.time.LocalDate, j: java.lang.Long) => op match {
        case "+" => d.plusDays(j)
        case "-" => d.minusDays(j)
        case _ => scalar(d.toEpochDay: java.lang.Long, j)
      }
      case (i: java.lang.Long, d: java.time.LocalDate) if op == "+" =>
        d.plusDays(i)
      // DATE - DATE = day count (lang.c:4392-4409)
      case (d1: java.time.LocalDate, d2: java.time.LocalDate) if op == "-" =>
        java.lang.Long.valueOf(d1.toEpochDay - d2.toEpochDay)
      case (i: java.lang.Long, j: java.lang.Long) => op match {
        case "+" => i + j
        case "-" => i - j
        case "*" => i * j
        // division by zero yields null, not an error (lang.c:5249 (/ 1 0))
        case "/" => if (j == 0L) null else java.lang.Math.floorDiv(i, j)
        case "%" => if (j == 0L) null else java.lang.Math.floorMod(i, j)
        // div = REAL division, always f64 (lang.c:2081-2110)
        case "div" =>
          if (j == 0L) null
          else java.lang.Double.valueOf(i.toDouble / j.toDouble)
        // (xbar VALUE bar): floor to a multiple (lang.c:2411-2430)
        case "xbar" =>
          if (j == 0L) null
          else java.lang.Long.valueOf(java.lang.Math.floorDiv(i, j) * j)
        case ">" => java.lang.Boolean.valueOf(i > j)
        case "<" => java.lang.Boolean.valueOf(i < j)
        case ">=" => java.lang.Boolean.valueOf(i >= j)
        case "<=" => java.lang.Boolean.valueOf(i <= j)
        case "==" | "=" => java.lang.Boolean.valueOf(i == j)
        case "!=" => java.lang.Boolean.valueOf(i != j)
      }
      // `/` is floor division whose result TYPE follows the DIVIDEND
      // (tests/lang.c:441: (/ -5 0.60) = -9 i64; :732: (/ 3.00 -2) =
      // -2.00 f64): an integer dividend stays i64 even under a double
      // divisor
      case (i: java.lang.Long, d: java.lang.Double) if op == "/" =>
        if (d == 0.0 || d.isNaN) null
        else java.lang.Long.valueOf(math.floor(i.toDouble / d).toLong)
      case _ =>
        val (d1, d2) = (toD(x), toD(y))
        op match {
          case "+" => d1 + d2
          case "-" => d1 - d2
          case "*" => d1 * d2
          case "/" => if (d2 == 0.0) null else math.floor(d1 / d2)
          case "%" => if (d2 == 0.0) null else d1 - math.floor(d1 / d2) * d2
          case "div" => if (d2 == 0.0) null else d1 / d2
          case "xbar" => if (d2 == 0.0) null else math.floor(d1 / d2) * d2
          case ">" => java.lang.Boolean.valueOf(d1 > d2)
          case "<" => java.lang.Boolean.valueOf(d1 < d2)
          case ">=" => java.lang.Boolean.valueOf(d1 >= d2)
          case "<=" => java.lang.Boolean.valueOf(d1 <= d2)
          case "==" | "=" => java.lang.Boolean.valueOf(d1 == d2)
          case "!=" => java.lang.Boolean.valueOf(d1 != d2)
        }
    }
    def toD(x: Any): Double = x match {
      case l: java.lang.Long => l.toDouble
      case d: java.lang.Double => d
      case x => throw new IllegalArgumentException(s"non-numeric $x")
    }
    (asVec(a), asVec(b)) match {
      case (Some(xs), Some(ys)) =>
        require(xs.length == ys.length, "vector length mismatch")
        VVec(xs.lazyZip(ys).map(scalar).toVector)
      case (Some(xs), None) =>
        val VAtom(y) = b: @unchecked; VVec(xs.map(scalar(_, y)))
      case (None, Some(ys)) =>
        val VAtom(x) = a: @unchecked; VVec(ys.map(scalar(x, _)))
      case (None, None) =>
        val (VAtom(x), VAtom(y)) = (a, b): @unchecked; VAtom(scalar(x, y))
    }
  }

  /** `(table [c…] (list col…))` — build a DataFrame from value columns.
    * Long → LongType, Double → DoubleType, String → StringType; mixed
    * numeric promotes to double. */
  private[graft] def tableFromValues(spark: SparkSession, names: Seq[String],
                              colVals: Seq[Any]): DataFrame = {
    require(names.length == colVals.length,
      s"table: ${names.length} names but ${colVals.length} columns")
    // column views past the driver cap → distributed position-zip: each
    // lazy column keyed by its contiguous position (zipWithIndex), all
    // joined on it (the r09 shape at 1e7 stays executor-side end to end)
    if (colVals.exists {
          case cv: VColView => cachedCount(cv.df) > maxDriverVec
          case _ => false
        }) {
      val frames = names.zip(colVals).collect {
        case (name, cv: VColView) =>
          (name, indexedVec(spark, cv).withColumnRenamed("__v", name),
            cachedCount(cv.df))
        case (name, VRange(n2, f)) =>
          (name, spark.range(n2).select(col("id").as("__rowidx"),
            f(col("id")).as(name)), n2)
      }
      val n = frames.head._3
      require(frames.forall(_._3 == n),
        s"table: ragged lazy columns (${frames.map(_._3).mkString(",")})")
      val joined = frames.map(_._2).reduce((x, y) => x.join(y, "__rowidx"))
      val projections = names.zip(colVals).map {
        case (name, _: VColView | _: VRange) => col(name)
        case (name, VAtom(x)) => lit(x).as(name)
        case (name, VVec(xs)) if xs.length.toLong == n =>
          cycleF(xs, 0L)(col("__rowidx")).as(name)
        case (name, v) => throw new IllegalArgumentException(
          s"table: column $name ($v) does not match lazy length $n")
      }
      return joined.orderBy(col("__rowidx")).select(projections: _*)
    }
    // any lazy column → the whole table is one spark.range scan with the
    // generation expressions as projections (no driver materialization)
    val lazyNs = colVals.collect { case VRange(n, _) => n }
    if (lazyNs.nonEmpty) {
      val n = lazyNs.head
      require(lazyNs.forall(_ == n), "table: ragged lazy columns")
      val projections = names.zip(colVals).map {
        case (name, VRange(_, f)) => f(col("id")).as(name)
        case (name, VAtom(x)) => lit(x).as(name)
        case (name, VVec(xs)) if xs.length == n =>
          cycleF(xs, 0L)(col("id")).as(name)
        case (name, VColView(df, c, off)) =>
          throw new IllegalArgumentException(
            s"table: cannot zip column view $name ($df.$c+$off) with lazy columns")
        case (name, v) => throw new IllegalArgumentException(
          s"table: column $name ($v) does not match lazy length $n")
      }
      return spark.range(n).select(projections: _*)
    }
    val cols: Seq[Vector[Any]] = colVals.map {
      case VVec(xs) => xs
      case VAtom(x) => Vector(x)
      case cv: VColView => materialize(cv)
      case xs: Vector[_] => xs.asInstanceOf[Vector[Any]]
      case x => Vector(x) // a bare atom (the list form flattens all-atom lists)
    }
    val n = cols.headOption.map(_.length).getOrElse(0)
    require(cols.forall(_.length == n), "table: ragged columns")
    val typed = names.zip(cols).map { case (name, vals) =>
      val tpe = vals.collectFirst {
        case _: java.lang.Double => org.apache.spark.sql.types.DoubleType
        case _: String => org.apache.spark.sql.types.StringType
        case _: java.time.LocalDate => org.apache.spark.sql.types.DateType
        case _: java.lang.Boolean => org.apache.spark.sql.types.BooleanType
      }.getOrElse(org.apache.spark.sql.types.LongType)
      val coerced =
        if (tpe == org.apache.spark.sql.types.DoubleType)
          vals.map[Any] { case l: java.lang.Long => l.doubleValue(); case v => v }
        else vals
      (org.apache.spark.sql.types.StructField(name, tpe, nullable = true),
        coerced)
    }
    val fields = typed.map(_._1)
    val rows = (0 until n).map(i =>
      org.apache.spark.sql.Row.fromSeq(typed.map(_._2(i))))
    spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      org.apache.spark.sql.types.StructType(fields))
  }

  def eval(e: RExpr, tables: Map[String, DataFrame]): DataFrame = e match {
    // the reference accepts both long names and the kdb-style short
    // aliases (its benchmark scripts use ij/lj/aj)
    case RList(RSym("left-join" | "lj") :: RVec(keys) :: l :: r :: Nil) =>
      graft.operators.Joins.leftJoinOverride(
        evalTable(l, tables), evalTable(r, tables), keyNames(keys))
    case RList(RSym("inner-join" | "ij") :: RVec(keys) :: l :: r :: Nil) =>
      graft.operators.Joins.innerJoinOverride(
        evalTable(l, tables), evalTable(r, tables), keyNames(keys))
    case RList(RSym("asof-join" | "aj") :: RVec(keys) :: l :: r :: Nil) =>
      // last key symbol is the time column (reference asof-join form)
      val ks = keyNames(keys)
      graft.operators.AsofJoin.asofJoin(
        evalTable(l, tables), evalTable(r, tables), ks.init, ks.last)

    // (window-join [k… t] intervals l r {aggs}) — reference form,
    // core/join.c:358. Intervals: either a literal [lo hi] offsets pair,
    // or the docs' (map-left + [lo hi] (at l 'ts)) construction — both
    // mean "per left row, [ts+lo, ts+hi]". window-join (jtype 0) =
    // prevailing row + (lo, hi] (kdb wj, core/aggr.c:143-151);
    // window-join1 (jtype 1) = inclusive [lo, hi] (examples/wj.rfl).
    case RList(RSym(wj @ ("window-join" | "window-join1")) :: RVec(keys) ::
        intervals :: l :: r :: RDict(aggPairs) :: Nil) =>
      val ks = keyNames(keys)
      val (eqKeys, ts) = (ks.init, ks.last)
      val (lo, hi) = intervals match {
        case RVec(List(a, b)) => (toColumn(a), toColumn(b))
        case RList(RSym("map-left") :: RSym("+") :: RVec(List(a, b)) :: _) =>
          (toColumn(a), toColumn(b))
        case x => throw new IllegalArgumentException(
          s"window-join intervals must be [lo hi] offsets, got $x")
      }
      val left = evalTable(l, tables)
      val aggs = aggPairs.map { case (n, a) => toColumn(a).as(n) }
      graft.operators.WindowJoin.windowJoin(
        left, evalTable(r, tables), left.columns.toSeq, eqKeys, ts,
        lo, hi, aggs, jtype = if (wj == "window-join1") 1 else 0)

    // (insert t rows) — append, aligning columns by name (reference
    // insert accepts reordered dict/table forms, examples/insert.rfl).
    case RList(RSym("insert") :: t :: rows :: Nil) =>
      Tbl(evalTable(t, tables)).insert(evalTable(rows, tables)).df

    // (upsert t n s) — keyed merge on the FIRST n columns of t
    // (reference upsert, core/update.c:556; examples/update.rfl).
    case RList(RSym("upsert") :: t :: RNum(_, true, n) :: s :: Nil) =>
      val target = evalTable(t, tables)
      Tbl(target).upsert(evalTable(s, tables),
        target.columns.take(n.toInt).toSeq).df

    // (update {col: expr from: t where: … by: …}) — rewrite columns in
    // place; under by:, aggregates broadcast per group (reference
    // ray_update, core/update.c; docs/.../queries/update.md).
    case RList(RSym("update") :: RDict(pairs) :: Nil) =>
      val opts = pairs.toMap
      val table = evalTable(opts.getOrElse("from",
        throw new IllegalArgumentException("update needs from:")), tables)
      val mappings = pairs.filterNot { case (k, _) =>
        Set("from", "where", "by").contains(k) }
        .map { case (k, v) => k -> toColumn(v) }
      val where = opts.get("where").map(toColumn)
      val by = opts.get("by").toList.flatMap(byNames)
      if (by.isEmpty)
        Tbl(table).update(mappings, where.orNull).df
      else {
        // grouped update: aggregates evaluate per group over the
        // where-filtered rows ONLY (the reference builds the group index
        // on the filtered rows, core/query.c:340) and broadcast back;
        // assignment still touches only where-matching rows
        val (aggM, rowM) = mappings.partition { case (_, c) => Tbl.isAggregate(c) }
        val withAggs =
          if (aggM.isEmpty) table
          else {
            val filtered = where.map(table.filter).getOrElse(table)
            val aggDf = filtered.groupBy(by.map(col): _*)
              .agg(aggM.head._2.as(s"__u_${aggM.head._1}"),
                aggM.tail.map { case (n, c) => c.as(s"__u_$n") }: _*)
            val joined = table.join(aggDf, by, "left")
            aggM.foldLeft(joined) { case (d, (n, _)) =>
              val v = where match {
                case Some(cond) if d.columns.contains(n) =>
                  when(cond, col(s"__u_$n")).otherwise(col(n))
                case Some(cond) => when(cond, col(s"__u_$n"))
                case None => col(s"__u_$n")
              }
              d.withColumn(n, v)
            }.drop(aggM.map(p => s"__u_${p._1}"): _*)
          }
        Tbl(withAggs).update(rowM, where.orNull).df
      }

    // (alter t fn 'col v) — apply a binary fn to a whole table column
    // (reference alter, docs/.../queries/alter.md: `(alter trades + 'price 10)`;
    // core/update.c:268). `set` overwrites.
    case RList(RSym("alter") :: t :: RSym(fn) :: RQuote(colName) :: v :: Nil) =>
      val table = evalTable(t, tables)
      val vc = toColumn(v)
      val newCol = fn match {
        case "set" => vc
        case _ => apply1(fn, List(col(colName), vc), List(RSym(colName), v))
      }
      Tbl(table).update(Seq(colName -> newCol)).df

    // (take n t) — first n rows of a table (reference take,
    // core/items.c:398; negative "from the end" has no stable meaning
    // on an unordered DataFrame and is rejected)
    case RList(RSym("take") :: RNum(_, true, n) :: tExpr :: Nil) =>
      require(n > 0, "(take n t) on a table needs n > 0")
      evalTable(tExpr, tables).limit(n.toInt)

    // (meta t) — schema introspection as a table (reference meta,
    // core/misc.c:245)
    case RList(RSym("meta") :: t :: Nil) =>
      val df = evalTable(t, tables)
      val spark = df.sparkSession
      import spark.implicits._
      Tbl(df).meta.zipWithIndex
        .map { case ((n, ty), i) => (i.toLong, n, ty) }
        .toDF("idx", "col_name", "col_type")

    // (distinct t) / (xasc [c…] t) / (xdesc [c…] t) table forms
    case RList(RSym("distinct") :: t :: Nil) =>
      evalTable(t, tables).distinct()
    case RList(RSym("xasc") :: RVec(keys) :: t :: Nil) =>
      Tbl(evalTable(t, tables)).xasc(keyNames(keys): _*).df
    case RList(RSym("xdesc") :: RVec(keys) :: t :: Nil) =>
      Tbl(evalTable(t, tables)).xdesc(keyNames(keys): _*).df
    case RList(RSym("select") :: RDict(pairs) :: Nil) =>
      val opts = pairs.toMap
      val from = opts.getOrElse("from",
        throw new IllegalArgumentException("select needs from:"))
      val table = from match {
        case RSym(n) => tables.getOrElse(n,
          throw new IllegalArgumentException(s"unknown table $n"))
        case l: RList => eval(l, tables)
        case x => throw new IllegalArgumentException(s"bad from: $x")
      }
      val rawMappings = pairs.filterNot { case (k, _) =>
        Set("from", "where", "by", "take").contains(k) }
      val by = opts.get("by").toList.flatMap(byNames)
      // dense dictionary-encoded kernel fast path (operators.GroupKernel):
      // applies to registered tables with plain grouped aggregates and no
      // take; simple where-predicates fuse into the dense pass (the
      // reference's canonical select always runs filter+group fused,
      // core/query.c:311-404) — anything else falls through to Catalyst.
      val kernel =
        if (opts.contains("take") || by.isEmpty ||
            rawMappings.isEmpty || !graft.operators.GroupKernel.has(table)) None
        else opts.get("where") match {
          case None => kernelSelect(table, rawMappings, by, None)
          case Some(w) => kernelPred(w) match {
            case None => None // not kernel-compilable → Catalyst
            case p => kernelSelect(table, rawMappings, by, p)
          }
        }
      kernel.getOrElse {
        // script `row` form (core/env.c:177, core/aggr.c:3118 aggr_row):
        // 0-based table positions — per-group lists under by:, bare
        // positions of matching rows otherwise (the MAPFILTER path,
        // core/compose.c:1170). Positions are attached BEFORE the where
        // filter, so filtered selects report original table positions.
        val hasRow = rawMappings.exists { case (_, e) => isRowForm(e) }
        val src = if (hasRow) graft.Tbl.withRowIndex(table) else table
        val mappings = rawMappings.map {
          case (k, e) if isRowForm(e) =>
            k -> (if (by.nonEmpty) sort_array(collect_list(col("__rowidx")))
                  else col("__rowidx"))
          case (k, v) => k -> toColumn(v)
        }
        val where = opts.get("where").map(toColumn).orNull
        val take = opts.get("take").map {
          case RNum(_, true, l) => l.toInt
          case x => throw new IllegalArgumentException(s"bad take: $x")
        }.getOrElse(0)
        Tbl(src).select(mappings, where, by, take).df
      }
    case x => throw new IllegalArgumentException(s"cannot evaluate $x as a query")
  }

  /** `(row)` / `(row col)` — the reference's row-position aggregate
    * (registered FN_AGGR in core/env.c:177). */
  private def isRowForm(e: RExpr): Boolean = e match {
    case RList(RSym("row") :: Nil) => true
    case RList(RSym("row") :: (RSym(_) | RQuote(_)) :: Nil) => true
    case _ => false
  }

  /** Rewrite a select mapping into kernel primitives: supported agg leaves
    * (sum/avg/min/max/count over a plain column) become `__pN` placeholder
    * symbols; +,-,*,/ arithmetic and numeric literals are allowed above
    * them (Q6's `(- (max v1) (min v2))` shape). Anything else → None. */
  private def kernelAggTree(e: RExpr,
      prims: scala.collection.mutable.LinkedHashMap[(String, String), String])
      : Option[RExpr] = e match {
    case RList(RSym(op) :: RSym(c) :: Nil)
        if Set("sum", "avg", "min", "max", "count")(op) =>
      Some(RSym(prims.getOrElseUpdate((op, c), s"__p${prims.size}")))
    // `(map count c)` — the reference's count-per-group spelling
    // (group-by.md Q7)
    case RList(RSym("map") :: RSym("count") :: RSym(c) :: Nil) =>
      Some(RSym(prims.getOrElseUpdate(("count", c), s"__p${prims.size}")))
    case RList(RSym(op) :: a :: b :: Nil) if Set("+", "-", "*", "/")(op) =>
      for (x <- kernelAggTree(a, prims); y <- kernelAggTree(b, prims))
        yield RList(RSym(op) :: x :: y :: Nil)
    case n: RNum => Some(n)
    case _ => None
  }

  private def kernelSelect(table: DataFrame, rawMappings: List[(String, RExpr)],
                           by: Seq[String],
                           filter: Option[graft.operators.GroupKernel.Pred])
      : Option[DataFrame] = {
    val prims = scala.collection.mutable.LinkedHashMap.empty[(String, String), String]
    val trees = rawMappings.map { case (n, e) => kernelAggTree(e, prims).map(n -> _) }
    if (trees.exists(_.isEmpty)) return None
    // at least one real aggregate, and no literal-only mappings
    if (prims.isEmpty) return None
    val bind: Map[String, Column] =
      prims.values.map(ph => ph -> col(ph)).toMap
    graft.operators.GroupKernel.tryRun(table, by, prims.keys.toSeq, small =>
      small.select(by.map(col) ++ trees.flatten.map { case (n, t) =>
        toColumn(t, bind).as(n) }: _*), filter)
  }

  /** where:-clause → kernel Pred, mirroring apply1's predicate semantics
    * (comparisons, in over a literal vector, inclusive within, variadic
    * and/or, not) — column-vs-LITERAL leaves only. Anything else → None
    * and the select keeps its Catalyst plan. */
  private def kernelPred(e: RExpr)
      : Option[graft.operators.GroupKernel.Pred] = {
    import graft.operators.GroupKernel.Pred
    def lit1(x: RExpr): Option[Any] = x match {
      case RNum(_, true, l) => Some(Long.box(l))
      case RNum(v, false, _) => Some(Double.box(v))
      case RStr(s) => Some(s)
      case RQuote(s) => Some(s)
      case _ => None
    }
    val cmpOps = Set("<", ">", "<=", ">=", "=", "==", "!=")
    def norm(op: String) = if (op == "==") "=" else op
    def flip(op: String) = op match {
      case "<" => ">"; case ">" => "<"; case "<=" => ">="
      case ">=" => "<="; case o => o
    }
    def seqOpt[A](xs: List[Option[A]]): Option[List[A]] =
      if (xs.forall(_.isDefined)) Some(xs.map(_.get)) else None
    e match {
      case RList(RSym("and") :: args) if args.length >= 2 =>
        seqOpt(args.map(kernelPred)).map(_.reduce(Pred.And(_, _)))
      case RList(RSym("or") :: args) if args.length >= 2 =>
        seqOpt(args.map(kernelPred)).map(_.reduce(Pred.Or(_, _)))
      case RList(RSym("not") :: a :: Nil) => kernelPred(a).map(Pred.Not(_))
      case RList(RSym(op) :: RSym(c) :: v :: Nil) if cmpOps(op) =>
        lit1(v).map(Pred.Cmp(c, norm(op), _))
      case RList(RSym(op) :: v :: RSym(c) :: Nil)
          if cmpOps(op) && lit1(v).isDefined =>
        lit1(v).map(x => Pred.Cmp(c, flip(norm(op)), x))
      case RList(RSym("within") :: RSym(c) :: RVec(List(lo, hi)) :: Nil) =>
        for (l <- lit1(lo); h <- lit1(hi)) yield Pred.Within(c, l, h)
      case RList(RSym("in") :: RSym(c) :: RVec(items) :: Nil) =>
        seqOpt(items.map(lit1)).filter(_.nonEmpty).map(Pred.In(c, _))
      case _ => None
    }
  }

  private def evalTable(e: RExpr, tables: Map[String, DataFrame]): DataFrame =
    e match {
      case RSym(n) => tables.getOrElse(n,
        throw new IllegalArgumentException(s"unknown table $n"))
      // quoted = the reference's in-place form; same table resolution
      // here (re-binding is the script evaluator's job)
      case RQuote(n) => tables.getOrElse(n,
        throw new IllegalArgumentException(s"unknown table $n"))
      case l: RList => eval(l, tables)
      case x => throw new IllegalArgumentException(s"bad table ref $x")
    }

  private def keyNames(keys: List[RExpr]): Seq[String] = keys.map {
    case RSym(n) => n
    case RQuote(n) => n
    case x => throw new IllegalArgumentException(s"bad key $x")
  }

  /** by: accepts a symbol, quoted symbol, vector of symbols, or the
    * docs' dict form `{a: a b: b}`. */
  private def byNames(e: RExpr): Seq[String] = e match {
    case RSym(n) => Seq(n)
    case RQuote(n) => Seq(n)
    case RVec(items) => keyNames(items)
    case RDict(pairs) => pairs.map(_._1)
    case x => throw new IllegalArgumentException(s"bad by: $x")
  }

  /** Reference type symbols → Spark cast targets (§1.2 table; TIMESTAMP
    * stays LongType nanos per the repo-wide convention). */
  private val castTargets: Map[String, String] = Map(
    "B8" -> "boolean", "U8" -> "tinyint", "I16" -> "smallint",
    "I32" -> "int", "I64" -> "bigint", "F64" -> "double", "F32" -> "double",
    "C8" -> "string", "SYMBOL" -> "string", "STRING" -> "string",
    "GUID" -> "string", "DATE" -> "date", "TIMESTAMP" -> "bigint")

  /** Rayfall expression → Catalyst Column. `bind` maps lambda params to
    * already-built columns (the lazy-vector map compiler). */
  def toColumn(e: RExpr): Column = toColumn(e, Map.empty[String, Column])

  def toColumn(e: RExpr, bind: Map[String, Column]): Column = e match {
    // (as 'TYPE x) — the reference cast (core/compose.c:42)
    case RList(RSym("as") :: RQuote(t) :: x :: Nil) =>
      val target = castTargets.getOrElse(t.toUpperCase,
        throw new IllegalArgumentException(s"unknown cast type '$t"))
      toColumn(x, bind).cast(target)
    case RNum(_, true, l) => lit(l)
    case RNum(v, false, _) => lit(v)
    case RNull => lit(null)
    case RStr(v) => lit(v)
    case RQuote(n) => lit(n)
    case RSym(n) if bind.contains(n) => bind(n)
    case RSym(n) => col(n)
    case RVec(items) => array(items.map(toColumn(_, bind)): _*)
    // ((fn [x…] body) arg…) — immediate lambda application (reference
    // lambdas, core/lambda.c; update.md uses ((fn [x] (+ x 11)) price)).
    // Compiled by substitution: the body IS the column expression with
    // params replaced by the argument expressions — Catalyst codegens it
    // like any other tree (the analog of the reference's bytecode
    // compilation, core/cc.c:395).
    case RList(RList(RSym("fn") :: RVec(params) :: body :: Nil) :: args) =>
      val names = keyNames(params)
      require(names.length == args.length,
        s"lambda arity ${names.length} != ${args.length} args")
      toColumn(substitute(body, names.zip(args).toMap), bind)
    case RList(RSym(fn) :: args) => apply1(fn, args.map(toColumn(_, bind)), args)
    case x => throw new IllegalArgumentException(s"cannot translate $x")
  }

  /** Capture-free substitution of lambda params (shadowed names inside
    * nested lambdas are left untouched). */
  private def substitute(e: RExpr, env: Map[String, RExpr]): RExpr = e match {
    case RSym(n) if env.contains(n) => env(n)
    case RList(RList(RSym("fn") :: RVec(ps) :: body :: Nil) :: args) =>
      val inner = env -- keyNames(ps)
      RList(RList(RSym("fn") :: RVec(ps) :: substitute(body, inner) :: Nil) ::
        args.map(substitute(_, env)))
    case RList(items) => RList(items.map(substitute(_, env)))
    case RVec(items) => RVec(items.map(substitute(_, env)))
    case RDict(pairs) => RDict(pairs.map { case (k, v) => k -> substitute(v, env) })
    case other => other
  }

  private def apply1(fn: String, cs: List[Column], raw: List[RExpr]): Column =
    (fn, cs) match {
      case ("+", Seq(a, b)) => a + b
      case ("-", Seq(a, b)) => a - b
      case ("-", Seq(a)) => negate(a)
      case ("*", Seq(a, b)) => a * b
      case ("/", Seq(a, b)) => RF.euclidDiv(a, b)
      case ("%", Seq(a, b)) => RF.euclidMod(a, b)
      case ("div", Seq(a, b)) => a / b
      // docs use both (= a b) and (== a b) for equality
      case ("==" | "=", Seq(a, b)) => a === b
      case ("!=", Seq(a, b)) => a =!= b
      case ("<", Seq(a, b)) => a < b
      case (">", Seq(a, b)) => a > b
      case ("<=", Seq(a, b)) => a <= b
      case (">=", Seq(a, b)) => a >= b
      case ("and", args) => args.reduce(_ && _)
      case ("or", args) => args.reduce(_ || _)
      case ("not", Seq(a)) => !a
      case ("nil?", Seq(a)) => a.isNull
      case ("sum", Seq(a)) => sum(a)
      case ("avg", Seq(a)) => avg(a)
      case ("min", Seq(a)) => min(a)
      case ("max", Seq(a)) => max(a)
      // reference count (misc.c ray_count → aggr_count) increments
      // unconditionally — it counts null elements too, so map to group size
      // rather than Spark's null-skipping count(col).
      case ("count", Seq(_)) => count(lit(1))
      // (map count x) under by: maps count over the grouped column —
      // group size again (the H2O Q7 form, docs/.../benchmarks/group-by.md)
      case ("map", Seq(_, _)) if raw.headOption.contains(RSym("count")) =>
        count(lit(1))
      case ("first", Seq(a)) => first(a)
      case ("last", Seq(a)) => last(a)
      case ("med", Seq(a)) => RF.med(a)
      case ("dev", Seq(a)) => RF.dev(a)
      case ("distinct", Seq(a)) => countDistinct(a)
      case ("neg", Seq(a)) => negate(a)
      case ("abs", Seq(a)) => abs(a)
      case ("ceil", Seq(a)) => ceil(a)
      case ("floor", Seq(a)) => floor(a)
      case ("round", Seq(a)) => round(a)
      // reference order is (xbar VALUE bar): (xbar 17 5) = 15
      // (docs operations/math.md:246, tests/lang.c:2411-2430)
      case ("xbar", Seq(x, w)) => RF.xbar(w, x)
      case ("within", Seq(x, bounds)) => raw(1) match {
        case RVec(List(lo, hi)) => RF.within(cs.head, toColumn(lo), toColumn(hi))
        case _ => throw new IllegalArgumentException("within needs [lo hi]")
      }
      case ("like", Seq(a, _)) => raw(1) match {
        case RStr(p) => RF.likeGlob(a, p)
        case _ => throw new IllegalArgumentException("like needs a pattern string")
      }
      case ("in", Seq(a, _)) => raw(1) match {
        case RVec(items) => a.isin(items.map {
          case RNum(_, true, l) => l: Any
          case RNum(v, false, _) => v: Any
          case RStr(s) => s: Any
          case RQuote(s) => s: Any
          case x => throw new IllegalArgumentException(s"bad in element $x")
        }: _*)
        case _ => throw new IllegalArgumentException("in needs a vector")
      }
      case _ => throw new IllegalArgumentException(
        s"unknown function $fn/${cs.length}")
    }
}
