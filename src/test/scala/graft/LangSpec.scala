package graft

import graft.rayfall.Rayfall
import graft.rayfall.Rayfall._

/** Golden sweep of the reference's own language assertions
  * (`/root/reference/tests/lang.c`, ~3.6k asserts in ~40 groups), lifted
  * group-by-group through the script interpreter (`Rayfall.scriptValue`)
  * with the cited line ranges. Translated to this engine's conventions
  * (SURVEY §1.2): sentinel nulls are SQL NULLs, TIME = millis long,
  * symbols and strings share one runtime repr, DATE = LocalDate.
  *
  * Documented divergences (each intentional):
  *  - U8/hex vectors and C8-with-NUL cases are untested — no byte/char
  *    atom types here (strings are the C8 vector analog);
  *  - (distinct [1i 0Ni 1i]) keeps the null (SQL semantics; the
  *    reference drops it);
  *  - (rand n b) is deterministic hash-based (count/range asserts hold);
  *  - guids are deterministic md5 (shape/distinctness asserts hold).
  */
class LangSpec extends SparkSpec {

  private def sv(src: String): RVal = Rayfall.scriptValue(spark, src)
  private def atom(src: String): Any = sv(src) match {
    case VAtom(x) => x
    case x => fail(s"expected atom from $src, got $x")
  }
  private def vecOf(src: String): Vector[Any] = sv(src) match {
    case VVec(xs) => xs
    case x => fail(s"expected vector from $src, got $x")
  }
  private def ms(h: Int, m: Int, s: Int, f: Int = 0): Long =
    ((h * 60L + m) * 60 + s) * 1000 + f
  private def d(s: String): java.time.LocalDate = java.time.LocalDate.parse(s)

  test("map/pmap square and aggregate bodies (lang.c:25-36)") {
    assert(vecOf("(map (fn [x] (* x x)) [1 2 3 4 5])") ==
      Vector(1L, 4L, 9L, 16L, 25L))
    assert(vecOf("(pmap (fn [x] (* x x)) [1 2 3 4 5])") ==
      Vector(1L, 4L, 9L, 16L, 25L))
    assert(vecOf("(map (fn [x] (sum (til 100))) (til 5))") ==
      Vector.fill(5)(4950L))
  }

  test("basic atoms and literals (lang.c:38-74)") {
    assert(atom("1") == 1L)
    assert(atom("1.1") == 1.1)
    assert(atom("true") == true && atom("false") == false)
    assert(atom("null") == null)
    assert(atom("(as 'i64 \" 1\")") == 1L)
    assert(atom("(as 'f64 \" 1.000000123555555555555555555555555e+01\")")
      .asInstanceOf[Double] > 9.99)
    assert(vecOf("(enlist 1 2 3)") == Vector(1L, 2L, 3L))
    assert(atom("'asd") == "asd")
    // scientific-notation literals are f64 (lang.c:50-53)
    assert(atom("1.000000123555555555555555555555555e-02")
      .asInstanceOf[Double] == 1.000000123555555555555555555555555e-02)
    assert(atom("(* 5e3 2)") == 10000.0)
    assert(atom("(+ 1E-1 0.0)") == 0.1)
    // i64 overflow falls back to f64 (lang.c:54)
    assert(atom("-1000123555555555555555555555555")
      .asInstanceOf[Double] < -1e30)
    // hex u8 and h-suffix i16 literals carry as longs
    assert(atom("0x1a") == 26L)
    assert(vecOf("[0x1a 0x1b]") == Vector(26L, 27L))
    assert(atom("(- 5h 3h)") == 2L)
  }

  test("null propagation in arithmetic (lang.c:77-90)") {
    assert(atom("(+ 0Nl 0Nl)") == null)
    assert(atom("(+ 0 0Nl)") == null)
    assert(atom("(+ 0Nf 5)") == null)
    assert(atom("(+ 0Ni -10.00)") == null)
    assert(vecOf("(+ 0Nf [-0.00])") == Vector(null))
  }

  test("scalar/vector arithmetic with dates and TIME (lang.c:92-171)") {
    assert(atom("(+ 3i 5i)") == 8L)
    assert(atom("(+ 3i 5.2)") == 8.2)
    assert(atom("(+ 3i 2024.03.20)") == d("2024-03-23"))
    assert(atom("(+ -3 2024.03.20)") == d("2024-03-17"))
    assert(atom("(+ 3i 20:15:07.000)") == ms(20, 15, 7, 3))
    assert(vecOf("(+ 2i [3 5])") == Vector(5L, 7L))
    assert(vecOf("(+ 2i [3.1 5.2])") == Vector(5.1, 7.2))
    assert(vecOf("(+ 5i [2024.03.20 2023.02.07])") ==
      Vector(d("2024-03-25"), d("2023-02-12")))
    assert(vecOf("(+ 60000i [20:15:07.000 15:41:47.087])") ==
      Vector(ms(20, 16, 7), ms(15, 42, 47, 87)))
  }

  test("floor division/mod and div-by-zero null " +
      "(lang.c:426-560, 732-760, 1742-1748, 5249)") {
    assert(atom("(/ -5 -2)") == 2L)
    assert(atom("(/ -5 6)") == -1L)
    assert(atom("(/ 1 0)") == null)
    assert(atom("(% 10 0)") == null)
    assert(atom("(% 11 5)") == 1L)
    // `/` is FLOOR (toward -inf), not Euclidean — they differ on
    // negative divisors (lang.c:444: (/ -2 -5) = 0, Euclidean would be 1)
    assert(atom("(/ -2 -5)") == 0L)
    assert(atom("(/ 7 -3)") == -3L)
    assert(atom("(% 7 -3)") == -2L) // floor-mod takes the divisor's sign
    // result type follows the DIVIDEND (lang.c:441,732): int dividend
    // stays i64 under a double divisor; double dividend stays f64 floored
    assert(atom("(/ -5 0.60)") == -9L)
    assert(atom("(/ -2 -0.60)") == 3L)
    assert(atom("(/ 3.00 -2)") == -2.0)
    assert(atom("(/ 3.00 6)") == 0.0)
    assert(atom("(/ 3.00 0)") == null)
    assert(vecOf("(/ [-5] -2)") == Vector(2L))
    assert(vecOf("(/ [-5 -2] 0.60)") == Vector(-9L, -4L))
    // div is REAL division, always f64, zero/null divisor → null
    // (lang.c:2081-2110, 2400-2430)
    assert(atom("(div 9 5)") == 1.8)
    assert(atom("(div -9 5)") == -1.8)
    assert(atom("(div 11.5 1.0)") == 11.5)
    assert(atom("(div 10 0)") == null)
    assert(atom("(div 3 0.0)") == null)
    assert(vecOf("(div [10.0 5.0] 5)") == Vector(2.0, 1.0))
    assert(vecOf("(div [9] [-5])") == Vector(-1.8))
  }

  test("take: cyclic, negative, strings (lang.c:2629-2799)") {
    assert(vecOf("(take 1 2)") == Vector(1L, 1L))
    assert(vecOf("(take [0 1 2 3] 3)") == Vector(0L, 1L, 2L))
    assert(vecOf("(take [0 1 2 3] -3)") == Vector(1L, 2L, 3L))
    assert(vecOf("(take [0 1 2 3] 5)") == Vector(0L, 1L, 2L, 3L, 0L))
    assert(vecOf("(take [0 1 2 3] -5)") == Vector(3L, 0L, 1L, 2L, 3L))
    assert(vecOf("(take true 2)") == Vector(true, true))
    assert(vecOf("(take [false false true true] -3)") ==
      Vector(false, true, true))
    assert(atom("(take \"abcd\" 3)") == "abc")
    assert(atom("(take \"abcd\" -3)") == "bcd")
    assert(atom("(take \"abcd\" 5)") == "abcda")
    assert(atom("(take \"abcd\" -5)") == "dabcd")
    assert(atom("(take 'a' 2)") == "aa")
    assert(vecOf("(take 2025.05.01 2)") ==
      Vector(d("2025-05-01"), d("2025-05-01")))
  }

  test("split: strings by delimiter, vectors at indices (lang.c:2800-2854)") {
    assert(vecOf("(split \"hello,world\" \",\")") == Vector("hello", "world"))
    assert(vecOf("(split \"a,b,c\" \",\")") == Vector("a", "b", "c"))
    assert(vecOf("(split \"\" \",\")") == Vector(""))
    assert(vecOf("(split \",a,\" \",\")") == Vector("", "a", ""))
    assert(vecOf("(split \"a--b--c\" \"--\")") == Vector("a", "b", "c"))
    assert(vecOf("(split [1 2 3 4 5] [0 2 4])") ==
      Vector(VVec(Vector(1L, 2L)), VVec(Vector(3L, 4L)), VVec(Vector(5L))))
    assert(vecOf("(split [1 2 3 4 5] [0 3])") ==
      Vector(VVec(Vector(1L, 2L, 3L)), VVec(Vector(4L, 5L))))
    assert(vecOf("(split \"hello\" [0 2 4])") == Vector("he", "ll", "o"))
    assert(atom("(split [] [])") == null)
    assert(atom("(split [1 2 3] [])") == null)
  }

  test("table column access + grouped sum through select (lang.c:2855-2901)") {
    val pre = "(set t (table [sym price volume] " +
      "(list [apl vod god] [102 99 203] [500 400 900])))\n"
    assert(atom(pre + "(sum (at t 'price))") == 404L)
    assert(atom(pre + "(count (at t 'volume))") == 3L)
    val df = Rayfall.script(spark,
      "(set t (table [Group Value] (list [a a b b] [10 20 30 40])))\n" +
        "(select {Total: (sum Value) from: t by: Group})")
    assert(df.orderBy("Group").collect().map(r =>
      (r.getString(0), r.getLong(1))).toSeq == Seq(("a", 30L), ("b", 70L)))
  }

  test("insert: immediate leaves the source unchanged, quoted rebinds (lang.c:2902-2965)") {
    val pre = "(set t (table [ID Name Value] " +
      "(list [1 2] [alice bob] [10.0 20.0])))\n"
    // immediate: new table has the row, t does not
    assert(atom(pre +
      "(count (insert t (list 3 'charlie 30.0)))") == 3L)
    assert(atom(pre +
      "(insert t (list 3 'charlie 30.0)) (count t)") == 2L)
    // quoted: in-place rebind
    assert(atom(pre +
      "(insert 't (list 3 'charlie 30.0)) (count t)") == 3L)
    // dict source with reordered columns
    assert(atom(pre +
      "(count (insert t (dict [Value ID Name] (list 30.0 3 'charlie))))") == 3L)
  }

  test("distinct keeps first occurrence (lang.c:3720-3737)") {
    assert(vecOf("(distinct [1 1 1 2 3 4 2 3 4 2 3 4])") ==
      Vector(1L, 2L, 3L, 4L))
    assert(vecOf("(distinct ['a 'b 'ab 'aa 'a 'aa])") ==
      Vector("a", "b", "ab", "aa"))
    assert(vecOf("(distinct [2012.12.12 2012.12.12])") ==
      Vector(d("2012-12-12")))
    assert(vecOf("(distinct [10:00:00.000 20:10:10.500 10:00:00.000])") ==
      Vector(ms(10, 0, 0), ms(20, 10, 10, 500)))
    assert(vecOf("(distinct [true true])") == Vector(true))
    assert(atom("(set l (guid 2)) (set l (concat l l)) (count (distinct l))")
      == 2L)
  }

  test("concat: atoms, vectors, strings, dates (lang.c:3739-3826)") {
    assert(vecOf("(concat 1 2)") == Vector(1L, 2L))
    assert(vecOf("(concat [1] 2)") == Vector(1L, 2L))
    assert(vecOf("(concat 1 [2])") == Vector(1L, 2L))
    assert(vecOf("(concat [1] [2])") == Vector(1L, 2L))
    assert(vecOf("(concat 'a 'b)") == Vector("a", "b"))
    assert(vecOf("(concat true false)") == Vector(true, false))
    assert(vecOf("(concat 2020.10.10 2020.10.12)") ==
      Vector(d("2020-10-10"), d("2020-10-12")))
    assert(atom("(concat \"te\" \"st\")") == "test")
    assert(atom("(concat 't' 's')") == "ts")
    assert(atom("(concat 't' \"est\")") == "test")
    assert(atom("(concat \"tes\" 't')") == "test")
    assert(vecOf("(concat 1.0 2.0)") == Vector(1.0, 2.0))
  }

  test("raze flattens one level (lang.c:3829-3839)") {
    assert(vecOf("(raze (list [1 2] [3 4]))") == Vector(1L, 2L, 3L, 4L))
    assert(vecOf("(raze (list [1 2] (list 3 4)))") == Vector(1L, 2L, 3L, 4L))
    assert(vecOf("(raze (list [1 2 3]))") == Vector(1L, 2L, 3L))
    assert(vecOf("(raze (list))") == Vector())
    assert(atom("(raze 42)") == 42L)
  }

  test("filter by boolean mask, incl. tables (lang.c:3841-3863)") {
    assert(vecOf("(filter [1 0Nl 2] [true true true])") ==
      Vector(1L, null, 2L))
    assert(vecOf("(filter ['a 'b 'c 'dd] [true false false true])") ==
      Vector("a", "dd"))
    assert(vecOf("(filter [1.0 2.0 3.0] [true false true])") ==
      Vector(1.0, 3.0))
    intercept[IllegalArgumentException](sv("(filter [1 2 3] [true true])"))
    // table × mask → first row dict {a:2 b:'b} (lang.c:3860)
    sv("(first (filter (table [a b] (list [1 2 3] (list 'a 'b 'c))) " +
      "[false true true]))") match {
      case VDict(ks, vs) =>
        assert(ks == Vector("a", "b") && vs == Vector(2L, "b"))
      case x => fail(s"expected row dict, got $x")
    }
  }

  test("in: membership over atoms, vectors, strings, nulls (lang.c:3865-3931)") {
    assert(atom("(in 2 2)") == true)
    assert(atom("(in false [true false])") == true)
    assert(atom("(in 1 [0Nl])") == false)
    assert(atom("(in 'a ['a 'b 'c 'dd])") == true)
    assert(atom("(in 1.0 [1.0 2.0 3.0])") == true)
    assert(atom("(in 3 [1i 0Ni 2i])") == false)
    assert(vecOf("(in [true false] [false])") == Vector(false, true))
    assert(atom("(in 'e' \"test\")") == true)
    assert(vecOf("(in \"asd\" \"asd\")") == Vector(true, true, true))
    assert(vecOf("(in \"asd\" 'a')") == Vector(true, false, false))
    assert(vecOf("(in \"test\" \"post\")") ==
      Vector(true, false, true, true))
    assert(vecOf("(in [3 2 5 0Nl] [1 0Nl 2 3])") ==
      Vector(true, true, false, true))
    assert(vecOf("(in [0 1 0Nl] 0Nl)") == Vector(false, false, true))
  }

  test("except drops members, keeps duplicates of the rest (lang.c:3934-3967)") {
    assert(vecOf("(except [1 2 3 4 5] [2 4])") == Vector(1L, 3L, 5L))
    assert(vecOf("(except ['a 'b 'c] ['a 'c])") == Vector("b"))
    assert(vecOf("(except [] [1 2 3])") == Vector())
    assert(vecOf("(except [1 2 3] [])") == Vector(1L, 2L, 3L))
    assert(vecOf("(except [1 2 3 4 5] 3)") == Vector(1L, 2L, 4L, 5L))
    assert(vecOf("(except [1 1 2 2 3] [1 3])") == Vector(2L, 2L))
  }

  test("or / and: atoms, vectors, 3-arg, broadcast (lang.c:3970-3992)") {
    assert(atom("(or true false)") == true)
    assert(atom("(and true false)") == false)
    assert(vecOf("(or [true false true] [false true false])") ==
      Vector(true, true, true))
    assert(vecOf("(and [true false true] [false true false])") ==
      Vector(false, false, false))
    assert(vecOf("(or [true false true] [false true false] [true false true])")
      == Vector(true, true, true))
    assert(vecOf("(and [true false true] true)") ==
      Vector(true, false, true))
  }

  test("bin / binr step search (lang.c:3994-4002)") {
    assert(atom("(bin [1 2 3 4 5] 3)") == 2L)
    assert(atom("(bin [0 2 4 6 8 10] 5)") == 2L)
    assert(vecOf("(bin [0 2 4 6 8 10] [-10 0 4 5 6 20])") ==
      Vector(-1L, 0L, 2L, 2L, 3L, 5L))
    assert(vecOf("(bin [0 1 1 2] [0 1 2])") == Vector(0L, 2L, 3L))
    assert(vecOf("(binr [0 1 1 2] [0 1 2])") == Vector(0L, 1L, 3L))
  }

  test("aggregations: sum/avg/min/max/count/first/last/med/dev (lang.c:4065-4121)") {
    assert(atom("(sum [1 2 3 4 5])") == 15L)
    assert(atom("(sum [1.0 2.0 3.0])") == 6.0)
    assert(atom("(sum [])") == 0L)
    assert(atom("(sum 5)") == 5L)
    assert(atom("(avg [1 2 3 4 5])") == 3.0)
    assert(atom("(avg [2 4 6 8])") == 5.0)
    assert(atom("(avg 10)") == 10.0)
    assert(atom("(min [5 2 8 1 9])") == 1L)
    assert(atom("(min [-5 -2 -8])") == -8L)
    assert(atom("(max [5 2 8 1 9])") == 9L)
    assert(atom("(count [1 2 3 4 5])") == 5L)
    assert(atom("(count \"hello\")") == 5L)
    assert(atom("(count (dict [a b c] [1 2 3]))") == 3L)
    assert(atom("(count (table [a b] (list [1 2 3] [4 5 6])))") == 3L)
    assert(atom("(count 5)") == 1L)
    assert(atom("(first [1 2 3 4 5])") == 1L)
    assert(atom("(first \"hello\")") == "h")
    assert(atom("(last [1 2 3 4 5])") == 5L)
    assert(atom("(last \"hello\")") == "o")
    assert(atom("(med [1 2 3 4 5])") == 3.0)
    assert(atom("(med [1 2 3 4])") == 2.5)
    assert(atom("(med [5 1 3 2 4])") == 3.0)
    assert(atom("(dev [1 1 1 1])") == 0.0)
    assert(math.abs(atom("(dev [1 2 3 4 5])").asInstanceOf[Double] -
      math.sqrt(2.0)) < 0.001)
    // null-skipping (lang.c:2455-2501)
    assert(atom("(sum [1 2 3 0Nl 4])") == 10L)
    assert(atom("(avg [-24 12 6 0Nl])") == -2.0)
    assert(atom("(avg [0Ni])") == null)
    assert(atom("(min [0Ni -24i 12i 6i])") == -24L)
  }

  test("first/last on tables are row dicts (lang.c:4102-4112)") {
    sv("(first (table [a b] (list [1 2 3] [4 5 6])))") match {
      case VDict(ks, vs) => assert(ks == Vector("a", "b") && vs == Vector(1L, 4L))
      case x => fail(s"bad first $x")
    }
    sv("(last (table [a b] (list [1 2 3] [4 5 6])))") match {
      case VDict(ks, vs) => assert(vs == Vector(3L, 6L))
      case x => fail(s"bad last $x")
    }
    assert(atom("(at (first (table [a b] (list [1 2] [3 4]))) 'a)") == 1L)
  }

  test("grouped aggregates through select (lang.c:4124-4146, 5040-5057)") {
    val pre = "(set t (table [Group Value] (list [a a b b] [10 20 30 40])))\n"
    def rows(q: String) = Rayfall.script(spark, pre + q).orderBy("Group").collect()
    val s = rows("(select {Sum: (sum Value) from: t by: Group})")
    assert(s.map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("a", 30L), ("b", 70L)))
    val a = rows("(select {Avg: (avg Value) from: t by: Group})")
    assert(a.map(r => (r.getString(0), r.getDouble(1))).toSeq ==
      Seq(("a", 15.0), ("b", 35.0)))
    val mm = rows("(select {Min: (min Value) Max: (max Value) from: t by: Group})")
    assert(mm.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq(("a", 10L, 20L), ("b", 30L, 40L)))
  }

  test("temporal arithmetic (lang.c:4388-4412)") {
    assert(atom("(+ 2024.01.01 1)") == d("2024-01-02"))
    assert(atom("(+ 2024.01.01 31)") == d("2024-02-01"))
    assert(atom("(- 2024.01.10 5)") == d("2024-01-05"))
    assert(atom("(- 2024.02.01 2024.01.01)") == 31L)
    assert(atom("(+ 10:00:00.000 1000)") == ms(10, 0, 1))
    assert(atom("(+ 10:00:00.000 3600000)") == ms(11, 0, 0))
    assert(atom("(- 10:00:01.000 10:00:00.000)") == ms(0, 0, 1))
    assert(vecOf("(+ [2024.01.01 2024.01.02] 1)") ==
      Vector(d("2024-01-02"), d("2024-01-03")))
    assert(vecOf("(- [2024.01.10 2024.01.20] [2024.01.01 2024.01.10])") ==
      Vector(9L, 10L))
  }

  test("map-left / map-right with operators (lang.c:4415-4425)") {
    assert(vecOf("(map-left - 10 [1 2 3])") == Vector(9L, 8L, 7L))
    assert(vecOf("(map-left / 100 [2 4 5])") == Vector(50L, 25L, 20L))
    assert(vecOf("(map-right - [10 20 30] 5)") == Vector(5L, 15L, 25L))
    assert(vecOf("(map-right / [10 20 30] 2)") == Vector(5L, 10L, 15L))
  }

  test("conditionals: nested, expressions, side effects (lang.c:4428-4453)") {
    assert(atom("(if true 1 2)") == 1L)
    assert(atom("(if false 1 2)") == 2L)
    assert(atom("(if true (if false 1 2) 3)") == 2L)
    assert(atom("(if (> 5 3) (+ 1 1) (- 1 1))") == 2L)
    assert(atom("(if (== 1 1) \"yes\" \"no\")") == "yes")
    assert(atom("(set y 0) (if true (set y 10) (set y 20)) y") == 10L)
    assert(atom("(set y 0) (if false (set y 10) (set y 20)) y") == 20L)
    assert(atom("(set x 5) (if (< x 0) 'neg (if (== x 0) 'zero 'pos))") == "pos")
    assert(atom("(set x -3) (if (< x 0) 'neg (if (== x 0) 'zero 'pos))") == "neg")
    assert(atom("(set x 0) (if (< x 0) 'neg (if (== x 0) 'zero 'pos))") == "zero")
  }

  test("dict creation, access, missing key, nesting (lang.c:4456-4486)") {
    sv("(dict [a b c] [1 2 3])") match {
      case VDict(ks, vs) =>
        assert(ks == Vector("a", "b", "c") && vs == Vector(1L, 2L, 3L))
      case x => fail(s"bad dict $x")
    }
    assert(atom("(set d (dict [a b c] [1 2 3])) (at d 'a)") == 1L)
    assert(atom("(set d (dict [a b c] [1 2 3])) (at d 'd)") == null)
    assert(vecOf("(key (dict [a b c] [1 2 3]))") == Vector("a", "b", "c"))
    assert(vecOf("(value (dict [a b c] [1 2 3]))") == Vector(1L, 2L, 3L))
    assert(atom("(set d (dict [a b] (list 1 (dict [x y] [10 20])))) " +
      "(at (at d 'b) 'x)") == 10L)
  }

  test("list ops: at-indexing, til, enlist (lang.c:4489-4525)") {
    assert(atom("(at [10 20 30 40] 0)") == 10L)
    assert(atom("(at [10 20 30 40] 2)") == 30L)
    assert(vecOf("(at [10 20 30 40] [0 2])") == Vector(10L, 30L))
    assert(atom("(at \"hello\" 1)") == "e")
    assert(atom("(at \"hello\" [0 4])") == "ho")
    assert(vecOf("(til 5)") == Vector(0L, 1L, 2L, 3L, 4L))
    assert(vecOf("(til 0)") == Vector())
    assert(vecOf("(enlist 5)") == Vector(5L))
    assert(vecOf("(take [1 2 3] 7)") == Vector(1L, 2L, 3L, 1L, 2L, 3L, 1L))
    sv("(at (table [a b] (list [1 2 3] [4 5 6])) 0)") match {
      case VDict(ks, vs) => assert(ks == Vector("a", "b") && vs == Vector(1L, 4L))
      case x => fail(s"bad table at $x")
    }
  }

  test("alter set/concat on vectors (lang.c:4528-4536)") {
    assert(atom("(set v [1 2 3 4 5]) (alter 'v set 0 100) (first v)") == 100L)
    assert(vecOf("(set v [1 2 3]) (alter 'v concat 4) v") ==
      Vector(1L, 2L, 3L, 4L))
  }

  test("null handling: nil?, propagation, equality, tables (lang.c:4539-4563)") {
    assert(atom("(nil? null)") == true)
    assert(atom("(nil? 0Nl)") == true)
    assert(atom("(nil? 0)") == false)
    assert(atom("(nil? \"\")") == false)
    assert(atom("(+ 1 0Nl)") == null)
    assert(atom("(* 5 0Nl)") == null)
    assert(vecOf("(+ [1 2 3] [0Nl 2 3])") == Vector(null, 4L, 6L))
    assert(atom("(== 0Nl 0Nl)") == true)
    assert(atom("(set t (table [a b] (list [1 0Nl 3] [4 5 6]))) " +
      "(at (at t 'a) 1)") == null)
  }

  test("set ops: union, sect, within (lang.c:4566-4587)") {
    assert(vecOf("(union [1 2 3] [3 4 5])") == Vector(1L, 2L, 3L, 4L, 5L))
    assert(vecOf("(union [1 2 3] [1 2 3])") == Vector(1L, 2L, 3L))
    assert(vecOf("(union [] [1 2 3])") == Vector(1L, 2L, 3L))
    assert(vecOf("(union ['a 'b] ['b 'c])") == Vector("a", "b", "c"))
    assert(vecOf("(sect [1 2 3 4] [2 4 6])") == Vector(2L, 4L))
    assert(vecOf("(sect [1 2 3] [4 5 6])") == Vector())
    assert(vecOf("(sect ['a 'b 'c] ['b 'c 'd])") == Vector("b", "c"))
    assert(vecOf("(within [5] [1 10])") == Vector(true))
    assert(vecOf("(within [5 0 15] [1 10])") ==
      Vector(true, false, false))
  }

  test("casts (lang.c:4590-4760, 44-47)") {
    assert(atom("(as 'b8 1h)") == true)
    assert(atom("(as 'b8 0h)") == false)
    assert(atom("(as 'i64 \" 42\")") == 42L)
    assert(atom("(as 'f64 2)") == 2.0)
    assert(atom("(as 'symbol 12)") == "12")
    assert(vecOf("(as 'f64 [1 2])") == Vector(1.0, 2.0))
    // float → int TRUNCATES toward zero (lang.c:4670,4706: 100.9→100,
    // -100.9→-100 — not floor, not round)
    assert(atom("(as 'i64 100.9)") == 100L)
    assert(atom("(as 'i64 -100.9)") == -100L)
    assert(vecOf("(as 'I64 [0.0 100.9 -100.9])") ==
      Vector(0L, 100L, -100L))
    // b8 from doubles/strings: nonzero / nonempty → true (lang.c:4600-4623)
    assert(atom("(as 'b8 -1.5)") == true)
    assert(atom("(as 'b8 0.0)") == false)
    assert(atom("(as 'b8 \"hello\")") == true)
    assert(vecOf("(as 'B8 [0 1 -1])") == Vector(false, true, true))
    assert(vecOf("(as 'B8 [0.0 1.0 -1.5])") == Vector(false, true, true))
    // numbers from booleans (lang.c:4632-4668)
    assert(atom("(as 'i64 true)") == 1L)
    assert(atom("(as 'i64 false)") == 0L)
    assert(atom("(as 'f64 true)") == 1.0)
    assert(vecOf("(as 'I64 [false true])") == Vector(0L, 1L))
  }

  test("lambdas: immediate, stored, recursion (lang.c:4995-5025)") {
    assert(atom("((fn [x] (+ x 1)) 5)") == 6L)
    assert(atom("((fn [x y] (+ x y)) 3 4)") == 7L)
    assert(atom("((fn [] 42))") == 42L)
    assert(atom("((fn [a b c] (+ a (+ b c))) 1 2 3)") == 6L)
    assert(atom("(set f (fn [x] (* x x))) (f 5)") == 25L)
    assert(vecOf("(map (fn [x] (* x 2)) [1 2 3 4 5])") ==
      Vector(2L, 4L, 6L, 8L, 10L))
    assert(vecOf("(filter [1 2 3 4 5 6] (map (fn [x] (> x 3)) [1 2 3 4 5 6]))")
      == Vector(4L, 5L, 6L))
    assert(atom("((fn [x] (if (> x 0) 'pos 'neg)) 5)") == "pos")
    assert(atom("(set factorial (fn [n] (if (<= n 1) 1 " +
      "(* n (factorial (- n 1)))))) (factorial 5)") == 120L)
  }

  test("group yields an index dict in first-occurrence order (lang.c:5027-5100)") {
    sv("(group ['a 'a 'b 'b 'c])") match {
      case VDict(ks, vs) =>
        assert(ks == Vector("a", "b", "c"))
        assert(vs == Vector(VVec(Vector(0L, 1L)), VVec(Vector(2L, 3L)),
          VVec(Vector(4L))))
      case x => fail(s"bad group $x")
    }
    assert(sv("(at (group [1 1 2 2 3]) '1)") == VVec(Vector(0L, 1L)))
    assert(atom("(count (group []))") == 0L)
    sv("(group (list \"apple\" \"banana\" \"apple\" \"cherry\" \"banana\"))") match {
      case VDict(ks, vs) =>
        assert(ks == Vector("apple", "banana", "cherry"))
        assert(vs(0) == VVec(Vector(0L, 2L)))
      case x => fail(s"bad string group $x")
    }
    // update-with-by rebinding (lang.c:5060-5066)
    val t = Rayfall.script(spark,
      "(set t (table [Group Value] (list [a a b b] [10 20 30 40])))\n" +
        "(update {from: 't GroupSum: (sum Value) by: Group})\nt")
    assert(t.orderBy("Value").collect().map(_.getLong(2)).toSeq ==
      Seq(30L, 30L, 70L, 70L))
  }

  test("find: index-of with null misses (lang.c:5103-5135)") {
    assert(atom("(find [10 20 30 40] 30)") == 2L)
    assert(atom("(find [10 20 30 40] 50)") == null)
    assert(atom("(find [10 20 30 40] 10)") == 0L)
    assert(atom("(find ['a 'b 'c] 'b)") == 1L)
    assert(atom("(find \"hello\" 'l')") == 2L)
    assert(vecOf("(find [10 20 30 40] [20 40])") == Vector(1L, 3L))
    assert(vecOf("(find [1 2 3] [4 2 5])") == Vector(null, 1L, null))
    assert(atom("(find [] 1)") == null)
    assert(vecOf("(find [] [1 2 3])") == Vector())
    assert(atom("(find \"\" 'a')") == null)
    assert(atom("(find [1000000000 2000000000 3000000000] 2000000000)") == 1L)
    assert(atom("(find ['apple 'banana 'cherry] 'banana)") == 1L)
  }

  test("rand: count and range (lang.c:5138-5147; deterministic here)") {
    assert(atom("(count (rand 10 100))") == 10L)
    assert(atom("(and (>= (min (rand 100 10)) 0) (< (max (rand 100 10)) 10))")
      == true)
    assert(vecOf("(rand 0 10)") == Vector())
  }

  test("neg / not / where (lang.c:5150-5169)") {
    assert(atom("(neg 5)") == -5L)
    assert(atom("(neg -5)") == 5L)
    assert(vecOf("(neg [1 -2 3 -4])") == Vector(-1L, 2L, -3L, 4L))
    assert(atom("(neg 5.0)") == -5.0)
    assert(atom("(not true)") == false)
    assert(vecOf("(not [true false true])") == Vector(false, true, false))
    assert(vecOf("(where [true false true false true])") ==
      Vector(0L, 2L, 4L))
    assert(vecOf("(where [false false false])") == Vector())
    assert(vecOf("(where (> [1 2 3 4 5] 3))") == Vector(3L, 4L))
  }

  test("string ops: concat/count/at/take/first/last (lang.c:5172-5195)") {
    assert(atom("(concat \"hel\" \"lo\")") == "hello")
    assert(atom("(concat \"\" \"test\")") == "test")
    assert(atom("(count \"hello\")") == 5L)
    assert(atom("(count \"\")") == 0L)
    assert(atom("(at \"hello\" 0)") == "h")
    assert(atom("(at \"hello\" 4)") == "o")
    assert(atom("(take \"hello\" 3)") == "hel")
    assert(atom("(take \"hello\" -2)") == "lo")
    assert(atom("(first \"hello\")") == "h")
    assert(atom("(last \"hello\")") == "o")
  }

  test("do evaluates in order, returns last (lang.c:5198-5204)") {
    assert(atom("(do (set x 1) (set y 2) (+ x y))") == 3L)
    assert(atom("(do 1 2 3)") == 3L)
  }

  test("try/raise (lang.c:5207-5219)") {
    assert(atom("(try (+ 1 2) (fn [e] 0))") == 3L)
    assert(atom("(try (raise \"error\") (fn [e] 99))") == 99L)
    assert(atom("(try (try (raise \"inner\") (fn [e] (raise \"outer\"))) " +
      "(fn [e] 42))") == 42L)
    intercept[Rayfall.RayfallError](sv("(raise \"boom\")"))
  }

  test("safety edges (lang.c:5222-5251)") {
    intercept[IllegalArgumentException](sv("(til -1)"))
    intercept[IllegalArgumentException](sv("(rand -1 10)"))
    intercept[IllegalArgumentException](sv("(rand 5 0)"))
    assert(vecOf("(til 0)") == Vector())
    assert(atom("(at [] 0)") == null)
    assert(atom("(first [])") == null)
    assert(atom("(last [])") == null)
    assert(atom("(/ 1 0)") == null)
    assert(atom("(count (group []))") == 0L)
  }

  // ------------------------------------------------- round-4 golden sweep

  /** nanos-since-epoch for the TIMESTAMP-as-long convention. */
  private def ns(date: String, h: Int = 0, m: Int = 0, s: Int = 0,
                 nano: Long = 0): Long =
    (d(date).toEpochDay * 86400L + h * 3600 + m * 60 + s) * 1000000000L + nano

  test("serde round-trip (lang.c:3245-3249)") {
    assert(atom("(de (ser null))") == null)
    // (ser (list 'f 1)) == the apply-record wire bytes: the quoted
    // symbol keeps its -6 repr inside the LIST (round-12 closure)
    assert(vecOf("(ser (list 'f 1))").map(x =>
      (x.asInstanceOf[Long] & 0xff).toByte).toSeq ==
      graft.rayfall.RaySerde.serializeApply("f", Seq(1L), 0).toSeq)
    assert(vecOf("(de (ser [5 3 8]))") == Vector(5L, 3L, 8L))
    assert(atom("(de (ser \"two words\"))") == "two words")
    // tables round-trip through their literal form (reference serde
    // covers any object, core/serde.c) — incl. date and string columns
    val rt = Rayfall.script(spark,
      "(set t (table [d s v] (list [2024.01.02 2024.01.05] [x \"y z\"] " +
        "[1.5 2.5])))" +
        "(de (ser t))")
    assert(rt.orderBy("d").collect().map(r =>
      (r.get(0).toString, r.getString(1), r.getDouble(2))).toSeq ==
      Seq(("2024-01-02", "x", 1.5), ("2024-01-05", "y z", 2.5)))
    // column views serialize as vectors
    assert(vecOf("(set t2 (table [a] (list [7 8 9]))) (de (ser (at t2 'a)))")
      == Vector(7L, 8L, 9L))
  }

  test("fold-left / fold-right: seed slots and argument order " +
      "(core/iter.c:1044-1211)") {
    assert(atom("(fold-left + [1 2 3 4] 0)") == 10L)
    // binary ops receive (elem, acc): v=1-0=1, v=2-1=1, v=3-1=2
    assert(atom("(fold-left - [1 2 3] 0)") == 2L)
    // fold-right seeds from the LEFT slot, same (elem, acc) order
    assert(atom("(fold-right - 0 [1 2 3])") == 2L)
    // lambdas: fold-left hands (elem, acc) …
    assert(atom("(fold-left (fn [x acc] (+ acc (* x x))) [1 2 3] 0)") == 14L)
    // … fold-right hands (acc, elem) — the reference's push order
    // (iter.c:1181-1199): v=1-100=-99, v=2-(-99)=101, v=3-101=-98
    assert(atom("(fold-right (fn [acc x] (- x acc)) 100 [1 2 3])") == -98L)
    // empty vector → the seed
    assert(atom("(fold-left + (take [1] 0) 5)") == 5L)
    assert(atom("(fold-right + 7 (take [1] 0))") == 7L)
    // doubles flow through
    assert(atom("(fold-left * [1.5 2.0] 2.0)") == 6.0)
  }

  test("scan / scan-left / scan-right: cumulative + pairwise forms " +
      "(core/iter.c:1212-1674)") {
    // (scan f seed ys): v = f(v, y_i)
    assert(vecOf("(scan + 0 [1 2 3 4])") == Vector(1L, 3L, 6L, 10L))
    assert(vecOf("(scan - 100 [1 2 3])") == Vector(99L, 97L, 94L))
    // (scan f xs seed): v = f(x_i, v)
    assert(vecOf("(scan + [1 2 3 4] 0)") == Vector(1L, 3L, 6L, 10L))
    // dual-vector scan applies f PAIRWISE (iter.c:1259-1263)
    assert(vecOf("(scan * [1 2 3] [4 5 6])") == Vector(4L, 10L, 18L))
    // scan-left: l+1 entries, seed first
    assert(vecOf("(scan-left + [1 2 3] 0)") == Vector(0L, 1L, 3L, 6L))
    // scan-right: seed from the left slot, still (elem, acc):
    // [10, 1-10, 2-(-9), 3-11]
    assert(vecOf("(scan-right - 10 [1 2 3])") == Vector(10L, -9L, 11L, -8L))
    assert(vecOf("(scan-right + 0 [1 2 3])") == Vector(0L, 1L, 3L, 6L))
    // lambda scan-left, (elem, acc)
    assert(vecOf("(scan-left (fn [x acc] (+ acc x)) [5 6] 1)") ==
      Vector(1L, 6L, 12L))
    // empty vector → EMPTY scan (no seed entry, iter.c:1504,1601)
    assert(vecOf("(scan-left + (take [1] 0) 5)") == Vector())
    // running max via lambda over a comparison
    assert(vecOf("(scan-left (fn [x acc] (if (> x acc) x acc)) [3 1 4 1 5] 0)")
      == Vector(0L, 3L, 3L, 4L, 4L, 5L))
  }

  test("vector sorts: iasc/idesc/asc/desc/rank/xrank/reverse " +
      "(core/order.c:32-648)") {
    assert(vecOf("(iasc [5 1 4])") == Vector(1L, 2L, 0L))
    assert(vecOf("(idesc [5 1 4])") == Vector(0L, 2L, 1L))
    assert(vecOf("(asc [5 1 4])") == Vector(1L, 4L, 5L))
    assert(vecOf("(desc [5 1 4])") == Vector(5L, 4L, 1L))
    // rank: each element's position in the ascending order
    // (res[perm[i]] = i, order.c:519)
    assert(vecOf("(rank [5 1 4])") == Vector(2L, 0L, 1L))
    assert(vecOf("(rank [10 20 30])") == Vector(0L, 1L, 2L))
    // xrank: rank*n div len n-tiles (order.c:598)
    assert(vecOf("(xrank [10 30 20 40] 2)") == Vector(0L, 1L, 0L, 1L))
    // asc order 10,15,20,30,40,50 → ranks 0..5, buckets rank*3 div 6
    assert(vecOf("(xrank [10 30 20 40 50 15] 3)") ==
      Vector(0L, 1L, 1L, 2L, 2L, 0L))
    assert(vecOf("(reverse [1 2 3])") == Vector(3L, 2L, 1L))
    // strings are C8 vectors: charwise sort/reverse
    assert(atom("(reverse \"abc\")") == "cba")
    assert(atom("(asc \"dcba\")") == "abcd")
    // mixed numerics widen; stable ties keep first occurrence
    assert(vecOf("(iasc [2.5 1 3])") == Vector(1L, 0L, 2L))
    assert(vecOf("(iasc [2 1 2])") == Vector(1L, 0L, 2L))
    // nulls sort first (null = the type's minimum)
    assert(vecOf("(asc (list 3 null 1))") == Vector(null, 1L, 3L))
    // symbols sort lexically
    assert(vecOf("(asc [b c a])") == Vector("a", "b", "c"))
    // sorting a sorted vector round-trips through iasc/at
    assert(vecOf("(at [50 10 40] (iasc [50 10 40]))") ==
      Vector(10L, 40L, 50L))
  }

  test("modify: nested amend at an index path (core/update.c:359)") {
    // op leaf: elem becomes f(elem, v)
    assert(vecOf("(set v [1 2 3]) (modify 'v + [1] 10) v") ==
      Vector(1L, 12L, 3L))
    // 'set replaces outright
    assert(vecOf("(set v [1 2 3]) (modify 'v set [0] 7) v") ==
      Vector(7L, 2L, 3L))
    // nested path into a list of vectors ((at m 0) yields the inner
    // vector as an atom-wrapped value)
    assert(sv("(set m (list [1 2] [3 4])) (modify 'm set [0 1] 99) " +
      "(at m 0)") == Rayfall.VAtom(Vector(1L, 99L)))
    // value target returns the amended copy, source binding unchanged
    assert(vecOf("(set v [5 6]) (modify v * [1] 3)") == Vector(5L, 18L))
    assert(vecOf("(set v [5 6]) (modify v * [1] 3) v") == Vector(5L, 6L))
    // lambda leaf receives (elem, v)
    assert(vecOf("(set v [1 2]) (modify 'v (fn [old x] (- old x)) [0] 10) v")
      == Vector(-9L, 2L))
    // dict hop by key
    assert(atom("(set d (dict [a b] (list 1 2))) (modify 'd + ['b] 5) " +
      "(at d 'b)") == 7L)
    // out-of-range path errors
    intercept[Exception](sv("(set v [1 2]) (modify 'v + [9] 1)"))
  }

  test("meta-eval: parse/eval/load run constructed code in the current " +
      "env (core/io.c:1031-1090)") {
    // eval of a string, in the CURRENT environment
    assert(atom("(set x 5) (eval \"(+ x 2)\")") == 7L)
    // eval round-trips through parse
    assert(atom("(eval (parse \"(* 6 7)\"))") == 42L)
    // side effects land in the calling environment (ray_eval_str)
    assert(atom("(eval \"(set y 11)\") y") == 11L)
    // eval of a non-code value is the value (reference eval_obj)
    assert(atom("(eval 9)") == 9L)
    assert(vecOf("(eval [1 2])") == Vector(1L, 2L))
    // multi-form strings evaluate in order, last value wins
    assert(atom("(eval \"(set a 1) (set a (+ a 1)) a\")") == 2L)
    // load: run a script file
    val f = java.nio.file.Files.createTempFile("graft_load", ".rfl")
    java.nio.file.Files.writeString(f, "(set loaded 123) (* loaded 2)")
    assert(atom(s"""(load "$f")""") == 246L)
    assert(atom(s"""(load "$f") loaded""") == 123L)
    // trailing-"/" load binds a stored object under the file name
    val dir = java.nio.file.Files.createTempDirectory("graft_loadtab")
    assert(atom(
      s"""(set t (table [k v] (list [1 2] [10 20])))
         (set "$dir/tt" t)
         (load "$dir/tt/")
         (sum (at tt 'v))""".replace("\n", " ")) == 30L)
  }

  test("(type x) follows the reference typename table " +
      "(core/misc.c:32, core/env.c:272-326)") {
    assert(atom("(type 1)") == "i64")
    assert(atom("(type 1.5)") == "f64")
    assert(atom("(type true)") == "b8")
    assert(atom("(type null)") == "NULL")
    assert(atom("(type \"abc\")") == "C8") // a string IS a C8 vector
    assert(atom("(type 2024.01.01)") == "date")
    assert(atom("(type [1 2 3])") == "I64")
    assert(atom("(type [1.5])") == "F64")
    assert(atom("(type [a b])") == "SYMBOL")
    assert(atom("(type [2024.01.01 2024.01.02])") == "DATE")
    assert(atom("(type (table [a] (list [1])))") == "TABLE")
    assert(atom("(type (dict [a] (list 1)))") == "DICT")
    assert(atom("(type (fn [x] x))") == "LAMBDA")
    assert(atom("(type (parse \"(+ 1 2)\"))") == "LIST")
    assert(atom("(type (til 100000))") == "I64") // lazy vectors type too
  }

  test("introspection/env: memstat/gc/sysinfo/system/os-*-var " +
      "(core/env.c:97, core/sys.c:362,417, core/os.c:86-120)") {
    sv("(memstat)") match {
      case Rayfall.VDict(ks, vs) =>
        assert(ks == Vector("msys", "heap", "free", "syms"))
        assert(vs.take(3).forall(_.asInstanceOf[Long] >= 0L))
      case x => fail(s"bad memstat $x")
    }
    assert(atom("(gc)").asInstanceOf[Long] >= 0L)
    sv("(sysinfo)") match {
      case Rayfall.VDict(ks, vs) =>
        assert(ks.contains("os") && ks.contains("cores"))
        assert(vs(ks.indexOf("cores")).asInstanceOf[Long] >= 1L)
      case x => fail(s"bad sysinfo $x")
    }
    // one line → string atom; several → string vector (popen rule)
    assert(atom("(system \"echo hi\")") == "hi")
    assert(vecOf("(system \"printf 'a\\nb\\n'\")") == Vector("a", "b"))
    // set/get env overlay (a JVM cannot mutate its real environment)
    assert(atom("(os-set-var \"GRAFT_T\" \"42\") (os-get-var \"GRAFT_T\")")
      == "42")
    intercept[Exception](sv("(os-get-var \"GRAFT_UNSET_VAR_X\")"))
  }

  test("registry closure: date/time clocks, return, rc, env, internals, " +
      "diverse (core/date.c:138, core/time.c:126, core/eval.c:899)") {
    // wall-clock forms: shape-pinned (engine nondeterminism, like rand)
    sv("(date 'utc)") match {
      case Rayfall.VAtom(d: java.time.LocalDate) =>
        assert(d.getYear >= 2026)
      case x => fail(s"bad (date) $x")
    }
    val t = atom("(time 'utc)").asInstanceOf[Long]
    assert(t >= 0L && t < 86400000L) // millis since midnight
    // return is its value in recursive eval
    assert(atom("(return 7)") == 7L)
    assert(atom("((fn [x] (if (< x 0) (return 0) (* x 2))) 5)") == 10L)
    assert(atom("((fn [x] (if (< x 0) (return 0) (* x 2))) -5)") == 0L)
    assert(atom("(rc [1 2 3])") == 1L)
    // env lists bound names
    val names = vecOf("(set zq 1) (set za 2) (env)")
    assert(names.contains("zq") && names.contains("za"))
    sv("(internals)") match {
      case Rayfall.VDict(ks, vs) =>
        assert(ks.contains("pid") &&
          vs(ks.indexOf("pid")).asInstanceOf[Long] > 0L)
      case x => fail(s"bad internals $x")
    }
    assert(vecOf("(diverse [1 2 3])") == Vector(1L, 2L, 3L))
  }

  test("registry closure: quote special form, unify, print " +
      "(core/env.c:124, core/compose.c:1089, core/vary.c:115)") {
    // (quote e) holds the UNevaluated parse tree; eval is its inverse
    assert(atom("(eval (quote (+ 1 2)))") == 3L)
    assert(atom("(type (quote (+ 1 2)))") == "LIST")
    // quoting must not evaluate: the inner set never runs
    assert(atom("(set qz 1) (quote (set qz 2)) qz") == 1L)
    // a quoted expression is a value: bindable, then evaluable later
    assert(atom("(set code (quote (* 6 7))) (eval code)") == 42L)
    // unify: diverse's inverse (content-identity in this value model)
    assert(vecOf("(unify (diverse [1 2 3]))") == Vector(1L, 2L, 3L))
    assert(vecOf("(unify [a b c])") == Vector("a", "b", "c"))
    assert(atom("(unify 5)") == 5L)
    // print = println minus the trailing newline, same % formatting
    val (_, printed) = Rayfall.scriptCapture(spark,
      """(print "a: %" 1) (print [1 2]) (println 3)""")
    assert(printed == "a: 1[1 2]3\n", s"got <$printed>")
  }

  test("value xbar and unary round/floor/ceil (lang.c:2411-2430, " +
      "2546-2561; docs math.md:246)") {
    // (xbar VALUE bar) floors to a multiple of the bar
    assert(atom("(xbar 17 5)") == 15L)
    assert(vecOf("(xbar [10 11 12 13 14] 3)") ==
      Vector(9L, 9L, 12L, 12L, 12L))
    assert(vecOf("(xbar (- (til 10) 5) 3)") ==
      Vector(-6L, -6L, -3L, -3L, -3L, 0L, 0L, 0L, 3L, 3L))
    assert(vecOf("(xbar [152.30 157.80 163.20] 5)") ==
      Vector(150.0, 155.0, 160.0))
    assert(atom("(xbar 7 0)") == null)
    // round is half-AWAY; floor/ceil toward -inf/+inf; ints pass through
    assert(atom("(round -0.5)") == -1.0)
    assert(vecOf("(round [-1.5 -1.1 0.0 1.1 1.5])") ==
      Vector(-2.0, -1.0, 0.0, 1.0, 2.0))
    assert(vecOf("(floor [1.1 2.5 -1.1])") == Vector(1.0, 2.0, -2.0))
    assert(atom("(floor 1.5)") == 1.0)
    assert(atom("(ceil 1.2)") == 2.0)
    assert(vecOf("(ceil [1.2 -1.2])") == Vector(2.0, -1.0))
    assert(atom("(floor -5)") == -5L)
    assert(atom("(round null)") == null)
  }

  test("min/max order dates and mixed comparables (lang.c:2493-2535)") {
    assert(atom("(min [2024.01.02 2024.01.01])").toString == "2024-01-01")
    assert(atom("(max [2024.01.02 2024.01.01])").toString == "2024-01-02")
    assert(atom("(min [a c b])") == "a") // symbols order lexically
    assert(atom("(min [10:00:01.000 09:00:00.000])") == 32400000L)
    assert(atom("(min (take [1] 0))") == null) // (min []) = null
  }

  test("timestamp literal fraction beyond ns precision is rejected") {
    // 9 digits = ns, fine; 10 digits would silently lose precision
    assert(atom("2025.03.04D15:41:47.087221025") != null)
    intercept[Exception](atom("2025.03.04D15:41:47.0872210251"))
  }

  test("literals: char/string escapes incl. octal (lang.c:3251-3309)") {
    assert(atom("'a'") == "a")
    assert(atom("'z'") == "z" && atom("'0'") == "0" && atom("'9'") == "9")
    assert(atom("'\\n'") == "\n")
    assert(atom("'\\r'") == "\r")
    assert(atom("'\\t'") == "\t")
    assert(atom("'\\\\'") == "\\")
    assert(atom("'\\''") == "'")
    assert(atom("'\\001'") == "\u0001")
    assert(atom("'\\007'") == "\u0007")
    assert(atom("'\\012'") == "\n") // octal 12 = LF
    assert(atom("'\\015'") == "\r") // octal 15 = CR
    assert(atom("'\\032'") == "\u001a")
    assert(atom("'") == null) // bare quote = null symbol 0Ns
    assert(atom("\"Hello, World!\"") == "Hello, World!")
    assert(atom("\"\"") == "")
    assert(atom("\"Hello\\nWorld\"") == "Hello\nWorld")
    assert(atom("\"Hello\\tWorld\"") == "Hello\tWorld")
    assert(atom("\"Hello\\\\World\"") == "Hello\\World")
    assert(atom("\"Hello\\\"World\"") == "Hello\"World")
    assert(atom("\"Hello\\001World\"") == "Hello\u0001World")
    // FIX protocol message with SOH separators (lang.c:3304)
    assert(atom("\"8=FIX.4.2\\0019=006035=A49=CL156=TR34=152=20\"") ==
      "8=FIX.4.2\u00019=006035=A49=CL156=TR34=152=20")
    assert(atom("\"Mixed\\001\\n\\t\\015Escapes\"") ==
      "Mixed\u0001\n\t\rEscapes")
  }

  test("cmp: char/string comparisons are cross-compatible (lang.c:3311-3378)") {
    assert(atom("(== 'a' \"a\")") == true)
    assert(atom("(== 'a' \"b\")") == false)
    assert(atom("(== 'a' \"ab\")") == false)
    assert(atom("(!= 'a' \"b\")") == true)
    assert(atom("(< 'a' \"b\")") == true)
    assert(atom("(< 'b' \"a\")") == false)
    assert(atom("(> \"b\" 'a')") == true)
    assert(atom("(<= 'a' \"a\")") == true)
    assert(atom("(<= \"b\" 'a')") == false)
    assert(atom("(>= \"a\" 'a')") == true)
    assert(atom("(== 'a' 'a')") == true)
    assert(atom("(< 'a' 'b')") == true)
    assert(atom("(== \"ab\" \"ab\")") == true)
    assert(atom("(== \"ab\" \"ac\")") == false)
    assert(atom("(< \"a\" \"b\")") == true)
    assert(atom("(>= \"b\" \"a\")") == true)
  }

  test("cmp: cross-type null-total-order matrices (lang.c:3380-3719)") {
    // the reference's 16-value list crossed with itself under ==, <, >
    // via a bound 2-arg lambda: nulls of EVERY numeric type compare
    // equal to each other and smaller than every non-null value
    val pre = "(set l (list -2i 0i 0Ni 1i 2i -2 0 0Nl 1 2 " +
      "-2.0 -0.0 0Nf 0.0 1.0 2.0)) "
    def matrix(opBody: String): Vector[Any] =
      vecOf(pre + s"(set f (fn [x y] (if ($opBody x y) 1 0))) " +
        "(map (fn [x] (map f x l)) l)")
    def row(bits: String): Vector[Any] =
      bits.split(" ").toVector.map(_.toLong: Any)
    // == : value-equality groups {-2}, {0, -0.0}, {nulls}, {1}, {2}
    val eA = row("1 0 0 0 0 1 0 0 0 0 1 0 0 0 0 0")
    val eB = row("0 1 0 0 0 0 1 0 0 0 0 1 0 1 0 0")
    val eC = row("0 0 1 0 0 0 0 1 0 0 0 0 1 0 0 0")
    val eD = row("0 0 0 1 0 0 0 0 1 0 0 0 0 0 1 0")
    val eE = row("0 0 0 0 1 0 0 0 0 1 0 0 0 0 0 1")
    assert(matrix("==") == Vector(eA, eB, eC, eD, eE, eA, eB, eC, eD, eE,
      eA, eB, eC, eB, eD, eE))
    // < : null row is below all non-nulls, equal to other nulls
    val lA = row("0 1 0 1 1 0 1 0 1 1 0 1 0 1 1 1")
    val lB = row("0 0 0 1 1 0 0 0 1 1 0 0 0 0 1 1")
    val lC = row("1 1 0 1 1 1 1 0 1 1 1 1 0 1 1 1")
    val lD = row("0 0 0 0 1 0 0 0 0 1 0 0 0 0 0 1")
    val lE = row("0 0 0 0 0 0 0 0 0 0 0 0 0 0 0 0")
    assert(matrix("<") == Vector(lA, lB, lC, lD, lE, lA, lB, lC, lD, lE,
      lA, lB, lC, lB, lD, lE))
    // > : transpose shape of <
    val gA = row("0 0 1 0 0 0 0 1 0 0 0 0 1 0 0 0")
    val gB = row("1 0 1 0 0 1 0 1 0 0 1 0 1 0 0 0")
    val gC = row("0 0 0 0 0 0 0 0 0 0 0 0 0 0 0 0")
    val gD = row("1 1 1 0 0 1 1 1 0 0 1 1 1 1 0 0")
    val gE = row("1 1 1 1 0 1 1 1 1 0 1 1 1 1 1 0")
    assert(matrix(">") == Vector(gA, gB, gC, gD, gE, gA, gB, gC, gD, gE,
      gA, gB, gC, gB, gD, gE))
  }

  test("timestamp literals and ISO-string casts (lang.c:4004-4062)") {
    // engine literal form parses to ns-since-epoch
    assert(atom("2024.01.01D10:00:01.000000000") == ns("2024-01-01", 10, 0, 1))
    assert(atom("2025.03.04D15:41:47.087221025") ==
      ns("2025-03-04", 15, 41, 47, 87221025L))
    // ISO date-only
    assert(atom("(as 'timestamp \"2004-10-21\")") == ns("2004-10-21"))
    assert(atom("(as 'timestamp \"2025-01-01\")") == ns("2025-01-01"))
    // space and T separators
    assert(atom("(as 'timestamp \"2004-10-21 12:00:00\")") ==
      ns("2004-10-21", 12))
    assert(atom("(as 'timestamp \"2025-03-04T15:41:47\")") ==
      ns("2025-03-04", 15, 41, 47))
    // fractional seconds: ms, µs, ns widths
    assert(atom("(as 'timestamp \"2004-10-21 12:00:00.010\")") ==
      ns("2004-10-21", 12, 0, 0, 10000000L))
    assert(atom("(as 'timestamp \"2004-10-21 12:00:00.010500\")") ==
      ns("2004-10-21", 12, 0, 0, 10500000L))
    assert(atom("(as 'timestamp \"2025-03-04T15:41:47.087221025\")") ==
      ns("2025-03-04", 15, 41, 47, 87221025L))
    // Z and ± offsets (with/without colon), converted to UTC
    assert(atom("(as 'timestamp \"2004-10-21T12:00:00Z\")") ==
      ns("2004-10-21", 12))
    assert(atom("(as 'timestamp \"2004-10-21 12:00:00+02:00\")") ==
      ns("2004-10-21", 10))
    assert(atom("(as 'timestamp \"2025-03-04 15:41:47+05:30\")") ==
      ns("2025-03-04", 10, 11, 47))
    assert(atom("(as 'timestamp \"2004-10-21 12:00:00-05:00\")") ==
      ns("2004-10-21", 17))
    assert(atom("(as 'timestamp \"2004-10-21 12:00:00.010-23:00\")") ==
      ns("2004-10-22", 11, 0, 0, 10000000L))
    assert(atom("(as 'timestamp \"2004-10-21 12:00:00+0200\")") ==
      ns("2004-10-21", 10))
    assert(atom("(as 'timestamp \"2025-03-04T15:41:47.087-05:00\")") ==
      ns("2025-03-04", 20, 41, 47, 87000000L))
    // engine format through the cast too
    assert(atom("(as 'timestamp \"2004.10.21D12:00:00.000000000\")") ==
      ns("2004-10-21", 12))
  }

  test("math: typed arithmetic values — hex/suffix/timestamp (lang.c:176-260)") {
    // u8 hex atoms (integral-to-Long convention)
    assert(atom("(+ 0x02 0x03)") == 5L)
    assert(vecOf("(+ 0x02 [0x01 0x03])") == Vector(3L, 5L))
    assert(vecOf("(+ [0x01 0x02] [0x03 0x04])") == Vector(4L, 6L))
    assert(atom("(+ 0x02 5)") == 7L)
    // i16 h-suffix atoms
    assert(atom("(+ 2h 3h)") == 5L)
    assert(vecOf("(+ 2h [1h 3h])") == Vector(3L, 5L))
    assert(atom("(+ 2h 5.0)") == 7.0)
    assert(atom("(+ 0Nh 5h)") == null)
    assert(vecOf("(+ [1h 0Nh 3h] 1h)") == Vector(2L, null, 4L))
    // timestamp ± integral ns
    assert(vecOf("(+ [2025.03.04D15:41:47.087221025] 1000000000i)") ==
      Vector(ns("2025-03-04", 15, 41, 48, 87221025L)))
    assert(vecOf("(+ [2025.03.04D15:41:47.087221025] [3000000000])") ==
      Vector(ns("2025-03-04", 15, 41, 50, 87221025L)))
    assert(vecOf("(+ [-3] [2025.03.04D15:41:47.087221025])") ==
      Vector(ns("2025-03-04", 15, 41, 47, 87221022L)))
    // mixed-type lists broadcast per-element
    assert(vecOf("(+ (list -10i -10 -10.0) 5)") == Vector(-5L, -5L, -5.0))
    // negative-zero and null edges
    assert(atom("(- -0.00 0.00)") == 0.0)
    assert(atom("(- -0.00 0Nf)") == null)
    // TIME vector + scalar stays millis
    assert(vecOf("(+ [20:15:07.000 15:41:47.087] 60000)") ==
      Vector(ms(20, 16, 7), ms(15, 42, 47, 87)))
  }

  test("joins: asof goldens over TIME/timestamp/date keys (lang.c:4147-4195)") {
    val aj = Rayfall.script(spark,
      "(set trades (table [Sym Time Price] (list [x x] " +
        "[10:00:01.000 10:00:03.000] [100.0 101.0])))" +
        "(set quotes (table [Sym Time Bid] (list [x x x] " +
        "[10:00:00.000 10:00:02.000 10:00:04.000] [99.0 100.5 101.5])))" +
        "(asof-join [Sym Time] trades quotes)")
    assert(aj.orderBy("Time").collect().map(_.getDouble(3)).toSeq ==
      Seq(99.0, 100.5))
    // boundary time matches exactly (greatest right ts <= left ts)
    assert(atom(
      "(set trades (table [Sym Time Price] (list [a] [10:00:01.000] [50.0])))" +
        "(set quotes (table [Sym Time Bid] (list [a a] " +
        "[10:00:01.000 10:00:03.000] [48.0 49.0])))" +
        "(sum (at (asof-join [Sym Time] trades quotes) 'Bid))") == 48.0)
    // I64 key + timestamp-literal time axis
    val ts = Rayfall.script(spark,
      "(set aj1 (table [ID Ts Val] (list [1 1 2 2] " +
        "[2024.01.01D10:00:01.000000000 2024.01.01D10:00:05.000000000 " +
        "2024.01.01D10:00:03.000000000 2024.01.01D10:00:07.000000000] " +
        "[100 200 300 400])))" +
        "(set aj2 (table [ID Ts Ref] (list [1 1 2 2] " +
        "[2024.01.01D10:00:00.000000000 2024.01.01D10:00:04.000000000 " +
        "2024.01.01D10:00:02.000000000 2024.01.01D10:00:06.000000000] " +
        "[10 20 30 40])))" +
        "(asof-join [ID Ts] aj1 aj2)")
    assert(ts.orderBy("ID", "Ts").collect().map(_.getLong(3)).toSeq ==
      Seq(10L, 20L, 30L, 40L))
    // Symbol + Date keys
    val dj = Rayfall.script(spark,
      "(set orders (table [Cust Date Amount] (list [A A B B] " +
        "[2024.01.02 2024.01.05 2024.01.03 2024.01.06] [100 200 300 400])))" +
        "(set rates (table [Cust Date Rate] (list [A A B B] " +
        "[2024.01.01 2024.01.04 2024.01.01 2024.01.05] [0.1 0.15 0.2 0.25])))" +
        "(asof-join [Cust Date] orders rates)")
    assert(dj.orderBy("Cust", "Date").collect().map(_.getDouble(3)).toSeq ==
      Seq(0.1, 0.15, 0.2, 0.25))
    // no right row before the left time → null survives
    assert(atom(
      "(set trades (table [Sym Time Price] (list [a] [10:00:00.000] [100.0])))" +
        "(set quotes (table [Sym Time Bid] (list [a] [10:00:05.000] [99.0])))" +
        "(count (asof-join [Sym Time] trades quotes))") == 1L)
  }

  test("joins: left/inner goldens incl. empty and multi-key (lang.c:4192-4386)") {
    def n(src: String): Long = atom(src).asInstanceOf[Long]
    val t12 = "(set t1 (table [id val1] (list [1 2 3 4 5] [100 200 300 400 500])))" +
      "(set t2 (table [id val2] (list [1 3 5 6 7] [1000 3000 5000 6000 7000])))"
    assert(n(t12 + "(count (inner-join [id] t1 t2))") == 3L)
    assert(atom(t12 + "(sum (at (inner-join [id] t1 t2) 'val2))") == 9000L)
    assert(atom(t12 + "(sum (at (inner-join [id] t1 t2) 'val1))") == 900L)
    assert(n("(set t1 (table [ID Name] (list [1 2 3] [a b c])))" +
      "(set t2 (table [ID Value] (list [1 3] [100 300])))" +
      "(count (left-join [ID] t1 t2))") == 3L)
    // date/time/timestamp/f64/symbol key types
    assert(n("(set t1 (table [dt v] (list [2024.01.01 2024.01.02 2024.01.03] [1 2 3])))" +
      "(set t2 (table [dt w] (list [2024.01.01 2024.01.03 2024.01.05] [10 30 50])))" +
      "(count (inner-join [dt] t1 t2))") == 2L)
    assert(n("(set t1 (table [tm v] (list [10:00:00 10:00:01 10:00:02] [1 2 3])))" +
      "(set t2 (table [tm w] (list [10:00:00 10:00:02 10:00:05] [10 30 50])))" +
      "(count (inner-join [tm] t1 t2))") == 2L)
    assert(n("(set t1 (table [ts v] (list [2024.01.01D10:00:00.000000000 " +
      "2024.01.01D10:00:01.000000000 2024.01.01D10:00:02.000000000] [1 2 3])))" +
      "(set t2 (table [ts w] (list [2024.01.01D10:00:00.000000000 " +
      "2024.01.01D10:00:02.000000000] [10 30])))" +
      "(count (inner-join [ts] t1 t2))") == 2L)
    assert(n("(set t1 (table [price v] (list [1.0 2.0 3.0] [1 2 3])))" +
      "(set t2 (table [price w] (list [1.0 3.0 5.0] [10 30 50])))" +
      "(count (inner-join [price] t1 t2))") == 2L)
    assert(n("(set t1 (table [sym v] (list [AAPL GOOG MSFT] [1 2 3])))" +
      "(set t2 (table [sym w] (list [AAPL MSFT TSLA] [10 30 50])))" +
      "(count (inner-join [sym] t1 t2))") == 2L)
    // no / all matches, multi-key both joins
    assert(n("(set t1 (table [id v] (list [1 2 3] [1 2 3])))" +
      "(set t2 (table [id w] (list [4 5 6] [4 5 6])))" +
      "(count (inner-join [id] t1 t2))") == 0L)
    val mk = "(set t1 (table [id1 id2 val1] (list [1 1 2] [a b a] [100 200 300])))" +
      "(set t2 (table [id1 id2 val2] (list [1 2] [a a] [1000 3000])))"
    assert(n(mk + "(count (inner-join [id1 id2] t1 t2))") == 2L)
    assert(n(mk + "(count (left-join [id1 id2] t1 t2))") == 3L)
    // empty sides via (take [1] 0)
    assert(n("(set t1 (table [id val1] (list (take [1] 0) (take [1] 0))))" +
      "(set t2 (table [id val2] (list [1 2 3] [100 200 300])))" +
      "(count (left-join [id] t1 t2))") == 0L)
    assert(n("(set t1 (table [id val1] (list [1 2 3] [100 200 300])))" +
      "(set t2 (table [id val2] (list (take [1] 0) (take [1] 0))))" +
      "(count (left-join [id] t1 t2))") == 3L)
    // wrong-type / wrong-arity errors
    intercept[Exception](sv(
      "(left-join 123 (table [a] (list [1])) (table [a] (list [1])))"))
    intercept[Exception](sv("(asof-join [a b])"))
  }

  test("joins: window-join goldens incl. enum columns (lang.c:4289-4339)") {
    val pre = "(set trades (table [Sym Time Price] (list [a a] " +
      "[10:00:01.000 10:00:05.000] [100 200])))" +
      "(set quotes (table [Sym Time Bid] (list [a a a] " +
      "[10:00:00.000 10:00:02.000 10:00:04.000] [99 100 101])))" +
      "(set intervals (map-left + [-2000 2000] (at trades 'Time)))"
    val wj = Rayfall.script(spark, pre +
      "(window-join [Sym Time] intervals trades quotes {minBid: (min Bid)})")
    assert(wj.orderBy("Time").collect().map(_.getLong(3)).toSeq ==
      Seq(99L, 100L))
    val wj1 = Rayfall.script(spark, pre +
      "(window-join1 [Sym Time] intervals trades quotes {minBid: (min Bid)})")
    assert(wj1.orderBy("Time").collect().map(_.getLong(3)).toSeq ==
      Seq(99L, 101L))
    // a value type the sliding kernel does not read (min over a string)
    // takes the generic range join
    val strMin = Rayfall.script(spark, pre + "(window-join1 [Sym Time] " +
      "intervals trades quotes {s: (min Sym) n: (count Bid)})")
    assert(strMin.orderBy("Time").collect()
      .map(r => (r.getString(3), r.getLong(4))).toSeq == Seq(("a", 2L), ("a", 1L)))
    // enum-typed key columns resolve to their symbol values
    val en = Rayfall.script(spark,
      "(set sym ['a 'b])" +
        "(set trades (table [s time price] (list (enum 'sym ['a 'a 'b]) " +
        "[10:00:01.000 10:00:05.000 10:00:03.000] [100 200 150])))" +
        "(set quotes (table [s time bid] (list (enum 'sym ['a 'a 'a 'b 'b]) " +
        "[10:00:00.000 10:00:02.000 10:00:04.000 10:00:01.000 10:00:04.000] " +
        "[99 100 101 149 151])))" +
        "(set intervals (map-left + [-2000 2000] (at trades 'time)))" +
        "(window-join [s time] intervals trades quotes {minBid: (min bid)})")
    assert(en.orderBy("s", "time").collect().map(_.getLong(3)).toSeq ==
      Seq(99L, 100L, 149L))
  }

  test("loadfn: JVM static methods load as script fns " +
      "(core/env.c:262 ray_loadfn analog)") {
    assert(atom("(set f (loadfn \"java.lang.Math\" \"max\" 2)) (f 3 9)") == 9L)
    assert(atom("(set g (loadfn \"java.lang.Math\" \"hypot\" 2)) (g 3 4)")
      == 5.0)
    assert(atom("(type (loadfn \"java.lang.Math\" \"abs\" 1))") == "LAMBDA")
    val bad = scala.util.Try(sv("(loadfn \"java.lang.Math\" \"nope\" 1)"))
    assert(bad.isFailure && bad.failed.get.getMessage.contains("nope"))
  }

  test("timer: fires a lambda `reps` times then stops; (timer id) cancels " +
      "(core/chrono.c:361-402 ray_timer)") {
    val log = java.nio.file.Files.createTempFile("graft-timer", ".jnl")
    java.nio.file.Files.delete(log)
    // 3 reps at 30 ms: each fire journals the timer id
    sv(s"""(set h (hopen "$log"))
          |(set t (timer 30 3 (fn [id] (write h id))))""".stripMargin)
    Thread.sleep(400)
    // journals are binary ser_raw records since round 10 — count records
    val recs = graft.rayfall.RaySerde.deserializeRawStream(spark,
      java.nio.file.Files.readAllBytes(log))
    assert(recs.size == 3, s"expected 3 timer fires, got $recs")
    // cancellation: an until-cancelled timer (reps 0) stops on (timer id)
    val log2 = java.nio.file.Files.createTempFile("graft-timer2", ".jnl")
    java.nio.file.Files.delete(log2)
    sv(s"""(set h (hopen "$log2"))
          |(set t (timer 30 0 (fn [id] (write h id))))
          |(timer t)""".stripMargin)
    Thread.sleep(150)
    assert(java.nio.file.Files.readAllBytes(log2).isEmpty,
      "cancelled timer must not fire")
    java.nio.file.Files.deleteIfExists(log)
    java.nio.file.Files.deleteIfExists(log2)
  }

  test("journal format sniff re-runs after hclose + file replacement: " +
      "a path rewritten externally as a legacy TEXT journal keeps " +
      "appending text, not stale-cached binary") {
    val log = java.nio.file.Files.createTempFile("graft-sniffinv", ".jnl")
    java.nio.file.Files.delete(log)
    // first life: binary journal; the SECOND write sniffs the non-empty
    // file and caches the binary verdict; hclose must drop it
    sv(s"""(set h (hopen "$log"))
          |(write h 42)
          |(write h 43)
          |(hclose h)""".stripMargin)
    assert(graft.rayfall.RaySerde.deserializeRawStream(spark,
      java.nio.file.Files.readAllBytes(log)).size == 2)
    // the file is REPLACED externally as a legacy text journal
    java.nio.file.Files.writeString(log, "banana\n",
      java.nio.file.StandardOpenOption.TRUNCATE_EXISTING)
    // second life: the append re-sniffs and stays text — a stale cached
    // binary verdict would corrupt the journal with mixed formats
    sv(s"""(set h2 (hopen "$log"))
          |(write h2 'cherry)""".stripMargin)
    val txt = java.nio.file.Files.readString(log)
    assert(txt == "banana\ncherry\n", txt)
    java.nio.file.Files.deleteIfExists(log)
  }

  test("row: per-group table positions in select; count on values " +
      "(core/env.c:177, core/aggr.c:3118 aggr_row, compose.c:1166 ray_row)") {
    val pre = "(set t (table [g v] (list ['a 'b 'a 'b 'a] [10 20 30 40 50])))"
    // grouped: each group's 0-based scan positions, ascending (the q42
    // group→indices surface, now reachable from a script)
    val g = Rayfall.script(spark,
      pre + "(select {r: (row v) n: (count v) from: t by: g})")
    val got = g.orderBy("g").collect()
      .map(r => (r.getString(0), r.getSeq[Long](1), r.getLong(2))).toSeq
    assert(got == Seq(("a", Seq(0L, 2L, 4L), 3L), ("b", Seq(1L, 3L), 2L)))
    // filtered, ungrouped: original table positions of the matching rows
    // (the MAPFILTER arm, compose.c:1170)
    val f = Rayfall.script(spark,
      pre + "(select {r: (row v) from: t where: (> v 20)})")
    assert(f.orderBy("r").collect().map(_.getLong(0)).toSeq == Seq(2L, 3L, 4L))
    // value-level: ray_row's default arm is ops_count
    assert(Rayfall.scriptValue(spark, "(row [7 8 9])") == VAtom(3L))
    assert(Rayfall.scriptValue(spark, pre + "(row t)") == VAtom(5L))
  }

  test("(args): the reference's parse_cmdline grammar — flags, bare " +
      "file, -- user args under uargs, malformed lines raise") {
    // core/runtime.c:40: -f/-p/-c/-t take values, -i is boolean "1",
    // first bare arg is the file, -- switches to user flags
    val d = Rayfall.parseCmdline(Seq(
      "-p", "5101", "script.rfl", "-c", "8", "-i",
      "--", "-depth", "3", "-mode", "fast"))
    assert(d.keys == Vector("port", "file", "cores", "interactive", "uargs"))
    assert(d.vals.take(4) == Vector("5101", "script.rfl", "8", "1"))
    val u = d.vals(4).asInstanceOf[Rayfall.VDict]
    assert(u.keys == Vector("depth", "mode") &&
      u.vals == Vector("3", "fast"))
    // long forms alias the short ones; a second bare arg is an error
    assert(Rayfall.parseCmdline(Seq("--file", "x.rfl")).keys ==
      Vector("file"))
    intercept[Rayfall.RayfallError](Rayfall.parseCmdline(Seq("a", "b")))
    intercept[Rayfall.RayfallError](Rayfall.parseCmdline(Seq("-p")))
    intercept[Rayfall.RayfallError](Rayfall.parseCmdline(Seq("-zz", "1")))
    // the script form reads what the entry point registered
    Rayfall.setCliArgs(Seq("-p", "7777"))
    try {
      val got = Rayfall.scriptValue(spark, "(at (args) 'port)")
      assert(got == VAtom("7777"), s"got $got")
    } finally Rayfall.setCliArgs(Seq.empty)
  }
}
