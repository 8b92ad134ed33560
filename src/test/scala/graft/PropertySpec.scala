package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.functions.RF
import graft.operators.{AsofJoin, Upsert}

/** Property-based operator algebra (the FIXTURES.md §7 plan): division
  * invariants, join cardinality laws, upsert key laws — checked on
  * generated data through the real Spark operators. */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  /** Deterministic sampling: 5 cases per law from a fixed seed. */
  private def forAll[T](g: Gen[T])(f: T => Unit): Unit =
    (1 to 5).foreach { i =>
      f(g.pureApply(Gen.Parameters.default, Seed(42L + i)))
    }

  private def whenever(cond: Boolean)(f: => Unit): Unit = if (cond) f

  test("nearestCentroidL2 == the local argmin model on random vectors " +
      "(negatives, exact ties, and duplicate centroids included)") {
    // centroid coordinates from a tiny value set force frequent EXACT
    // distance ties (incl. duplicate centroids) — the lowest-index rule
    // is the law under test, alongside plain argmin correctness
    val gen = Gen.zip(
      Gen.listOfN(40, Gen.listOfN(6, Gen.chooseNum(-3.0, 3.0))),
      Gen.nonEmptyListOf(Gen.listOfN(6, Gen.oneOf(-1.0, 0.0, 0.5, 1.0)))
        .map(_.take(6)))
    forAll(gen) { case (vs, cs) =>
      whenever(vs.nonEmpty && cs.nonEmpty) {
        val got = vs.toDF("v")
          .select(graft.functions.VectorExprs.nearestCentroidL2(
            $"v", typedLit(cs)).as("c"))
          .collect().map(_.getInt(0)).toSeq
        val want = vs.map { v =>
          cs.zipWithIndex.map { case (c, i) =>
            (graft.operators.Pq.dist2Local(v, c), i)
          }.minBy { case (d, i) => (d, i) }._2
        }
        assert(got == want)
      }
    }
  }

  test("sortedIntersectSize == size(array_intersect) on sorted distinct arrays") {
    val words = Gen.listOfN(30, Gen.zip(
      Gen.listOfN(12, Gen.oneOf("a", "bb", "ccc", "Δδ", "x1", "y", "zz", "", "q")),
      Gen.listOfN(9, Gen.oneOf("a", "bb", "ccc", "Δδ", "x2", "y", "zz", ""))))
    forAll(words) { ps =>
      whenever(ps.nonEmpty) {
        val df = ps.map { case (l, r) => (l, r) }.toDF("l", "r")
          .select(sort_array(array_distinct($"l")).as("ls"),
            sort_array(array_distinct($"r")).as("rs"))
          .select(
            graft.functions.ArrayExprs.sortedIntersectSize($"ls", $"rs").as("fast"),
            size(array_intersect($"ls", $"rs")).as("ref"))
        df.collect().foreach(x =>
          assert(x.getInt(0) == x.getInt(1), s"fast=${x.getInt(0)} ref=${x.getInt(1)}"))
      }
    }
  }

  test("euclid: a == div*b + mod, and mod's sign follows the divisor") {
    val pairs = Gen.listOfN(24, Gen.zip(
      Gen.chooseNum(-1000L, 1000L),
      Gen.chooseNum(-20L, 20L).suchThat(_ != 0)))
    forAll(pairs) { ps =>
      whenever(ps.nonEmpty) {
        val df = ps.toDF("a", "b").select($"a", $"b",
          RF.euclidDiv($"a", $"b").as("d"), RF.euclidMod($"a", $"b").as("m"))
        df.collect().foreach { r =>
          val (a, b, d, m) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
          assert(a == d * b + m, s"$a != $d*$b+$m")
          assert(m == 0 || (m > 0) == (b > 0), s"mod sign: a=$a b=$b m=$m")
          assert(math.abs(m) < math.abs(b))
        }
      }
    }
  }

  test("asof join is left-preserving: exactly one output row per left row") {
    val gen = Gen.zip(
      Gen.listOfN(15, Gen.zip(Gen.oneOf("a", "b", "c"), Gen.chooseNum(0L, 100L))),
      Gen.listOfN(15, Gen.zip(Gen.oneOf("a", "b", "c"), Gen.chooseNum(0L, 100L))))
    forAll(gen) { case (ls, rs) =>
      whenever(ls.nonEmpty && rs.nonEmpty) {
        val l = ls.zipWithIndex.map { case ((k, t), i) => (k, t, i.toLong) }
          .toDF("k", "ts", "lid")
        val r = rs.map { case (k, t) => (k, t, t * 2.0) }.toDF("k", "ts", "v")
        val out = AsofJoin.asofJoin(l, r, Seq("k"), "ts")
        assert(out.count() == ls.length.toLong)
        assert(out.select($"lid").distinct().count() == ls.length.toLong)
      }
    }
  }

  test("asof join matches are correct: v = 2 * (max right ts <= left ts)") {
    val gen = Gen.zip(
      Gen.listOfN(10, Gen.chooseNum(0L, 50L)),
      Gen.listOfN(10, Gen.chooseNum(0L, 50L)))
    forAll(gen) { case (lts, rts) =>
      whenever(lts.nonEmpty && rts.nonEmpty) {
        val l = lts.map(("k", _)).toDF("k", "ts")
        val r = rts.map(t => ("k", t, t * 2.0)).toDF("k", "ts", "v")
        val got = AsofJoin.asofJoin(l, r, Seq("k"), "ts")
          .collect().map(row => row.getLong(1) ->
            (if (row.isNullAt(2)) None else Some(row.getDouble(2)))).toMap
        lts.foreach { t =>
          val expect = rts.filter(_ <= t) match {
            case Nil => None
            case xs => Some(xs.max * 2.0)
          }
          assert(got(t) == expect, s"left ts=$t")
        }
      }
    }
  }

  test("merge-exec asof equals the window rewrite on random multi-key data") {
    val gen = Gen.zip(
      Gen.listOfN(20, Gen.zip(Gen.oneOf("a", "b", "c"), Gen.chooseNum(0L, 60L))),
      Gen.listOfN(20, Gen.zip(Gen.oneOf("a", "b", "c"), Gen.chooseNum(0L, 60L))))
    forAll(gen) { case (ls, rs) =>
      whenever(ls.nonEmpty && rs.nonEmpty) {
        val l = ls.zipWithIndex.map { case ((k, t), i) => (k, t, i.toLong) }
          .toDF("k", "ts", "lid")
        // unique right (k, ts) so tie-breaking among exact duplicates
        // can't differ between the two implementations
        val r = rs.distinct.map { case (k, t) => (k, t, k + "@" + t) }
          .toDF("k", "ts", "tag")
        val viaWindow = AsofJoin.asofJoin(l, r, Seq("k"), "ts")
          .orderBy($"lid").collect()
          .map(x => (x.getLong(2), Option(x.getString(3)))).toSeq
        val viaMerge = AsofJoin.asofJoinMerge(l, r, Seq("k"), "ts")
          .orderBy($"lid").collect()
          .map(x => (x.getLong(2), Option(x.getString(3)))).toSeq
        assert(viaMerge == viaWindow)
      }
    }
  }

  test("window-join jtype 0/1 match the reference index model on random data") {
    // independent oracle: the reference's aggregation kernel verbatim
    // (core/aggr.c:39-68,133-158) — li = indexr_bin(lo) (jtype 0) or
    // indexl_bin(lo) (jtype 1), ri = indexr_bin(hi), aggregate li..ri,
    // null per the kernel's guard conditions; count counts every window
    // row, min skips null values
    def model(rts: Vector[Long], rvs: Vector[Option[Long]], lo: Long,
              hi: Long, jtype: Int): Option[(Long, Option[Long])] = {
      if (rts.isEmpty) return None
      def indexrBin(v: Long) = { // last idx with ts <= v, else 0
        val i = rts.lastIndexWhere(_ <= v); if (i < 0) 0 else i }
      def indexlBin(v: Long) = { // first idx with ts >= v, else 0
        val i = rts.indexWhere(_ >= v); if (i < 0) 0 else i }
      val li = if (jtype == 0) indexrBin(lo) else indexlBin(lo)
      val ri = indexrBin(hi)
      if (rts(li) > hi || (jtype == 1 && rts(ri) < lo)) None
      else {
        val in = (li to ri).map(rvs)
        Some((in.size.toLong, in.flatten.minOption))
      }
    }
    // two keys, each sometimes null: a null key matches nothing
    val key = Gen.zip(Gen.oneOf(Some("a"), Some("b"), None),
      Gen.oneOf(Some("x"), Some("y"), None))
    val gen = Gen.zip(
      Gen.listOfN(40, Gen.zip(key, Gen.chooseNum(0L, 400L))),
      Gen.listOfN(60, Gen.zip(key, Gen.chooseNum(0L, 400L),
        Gen.option(Gen.chooseNum(0L, 99L)))))
    forAll(gen) { case (ls, rs0) =>
      // distinct right ts per key: at equal ts the kernel and the model
      // may pick different physical duplicates as the prevailing row
      val rs = rs0.distinctBy(x => (x._1, x._2))
      whenever(ls.nonEmpty && rs.nonEmpty) {
        val l = ls.zipWithIndex.map { case (((k, k2), ts), i) =>
          (i.toLong, k, k2, ts) }.toDF("id", "k", "k2", "ts")
        val r = rs.map { case ((k, k2), ts, v) => (k, k2, ts, v) }
          .toDF("k", "k2", "ts", "v")
        val byKey = rs.filter { case ((k, k2), _, _) =>
          k.isDefined && k2.isDefined }.groupBy(_._1).map { case (k, xs) =>
          val sorted = xs.sortBy(_._2)
          k -> (sorted.map(_._2).toVector, sorted.map(_._3).toVector)
        }
        for (jt <- Seq(0, 1)) {
          val got = operators.WindowJoin.windowJoinSliding(l, r,
            Seq("k", "k2"), "ts", -25L, 25L,
            Seq(operators.WindowJoin.Agg("count", "v", "n"),
              operators.WindowJoin.Agg("min", "v", "mn")), jtype = jt)
            .collect().map { x =>
              val mn = Option(x.getAs[java.lang.Long](5)).map(_.longValue)
              ((Option(x.getString(1)), Option(x.getString(2))), x.getLong(3),
                if (x.isNullAt(4)) None else Some((x.getLong(4), mn)))
            }
          assert(got.length == ls.length)
          got.foreach { case (k, ts, res) =>
            val (rts, rvs) = byKey.getOrElse(k,
              (Vector.empty[Long], Vector.empty[Option[Long]]))
            val want = model(rts, rvs, ts - 25L, ts + 25L, jt)
            assert(res == want, s"jt=$jt k=$k ts=$ts got=$res want=$want " +
              s"rts=$rts")
          }
        }
      }
    }
  }

  test("upsert: output keys = target keys ∪ source keys, each exactly once") {
    val gen = Gen.zip(
      Gen.listOfN(10, Gen.chooseNum(0L, 15L)),
      Gen.listOfN(10, Gen.chooseNum(0L, 15L)))
    forAll(gen) { case (tks, sks) =>
      val target = tks.distinct.map(k => (k, s"t$k")).toDF("k", "v")
      val source = sks.distinct.map(k => (k, s"s$k")).toDF("k", "v")
      val out = Upsert.upsert(target, source, Seq("k")).collect()
      val keys = out.map(_.getLong(0)).toSeq
      assert(keys.sorted == (tks.distinct ++ sks.distinct).distinct.sorted)
      // source rows win on their keys
      out.foreach { r =>
        val k = r.getLong(0)
        val want = if (sks.contains(k)) s"s$k" else s"t$k"
        assert(r.getString(1) == want)
      }
    }
  }

  test("jaccard ∈ [0,1], symmetric, 1 iff equal token sets") {
    val txt = Gen.listOfN(8, Gen.oneOf("a", "b", "c", "d", "e"))
      .map(_.mkString(" "))
    forAll(Gen.zip(txt, txt)) { case (t1, t2) =>
      val df = Seq((t1, t2)).toDF("x", "y")
      val j = df.select(operators.Dedup.jaccard(
        split($"x", " "), split($"y", " ")).as("j")).collect().head.getDouble(0)
      assert(j >= 0.0 && j <= 1.0)
      val jr = df.select(operators.Dedup.jaccard(
        split($"y", " "), split($"x", " ")).as("j")).collect().head.getDouble(0)
      assert(j == jr)
      if (t1.split(" ").toSet == t2.split(" ").toSet) assert(j == 1.0)
    }
  }

  test("distributed prefix scan == driver scan on random lazy vectors") {
    val cases = Gen.zip(Gen.chooseNum(11000, 40000), Gen.chooseNum(-500L, 500L))
    forAll(cases) { case (n, seed) =>
      // n > lazyVecLen makes (til n) a lazy VRange; the lowered cap
      // forces the distributed prefix-scan path
      val q = s"(last (scan + (til $n) $seed))"
      val want = rayfall.Rayfall.scriptValue(spark, q) // driver path
      val old = rayfall.Rayfall.maxDriverVec
      try {
        rayfall.Rayfall.maxDriverVec = 1000
        assert(rayfall.Rayfall.scriptValue(spark, q) == want)
      } finally rayfall.Rayfall.maxDriverVec = old
    }
  }

  test("fuzzyReport laws on random corpora: flagged pairs satisfy the " +
      "containment gate, n_common <= n_bench, and a verbatim copy of a " +
      "bench doc is always flagged with full containment") {
    import graft.operators.Decontam
    val word = Gen.oneOf((0 until 25).map(i => s"w$i"))
    val doc = Gen.choose(5, 30).flatMap(n => Gen.listOfN(n, word))
      .map(_.mkString(" "))
    val gen = for {
      nc <- Gen.choose(4, 10)
      corpus <- Gen.listOfN(nc, doc)
      bench <- doc
    } yield (corpus, bench)
    forAll(gen) { case (corpusDocs, benchDoc) =>
      // plant a verbatim copy of the bench doc in the corpus
      val corpus = (corpusDocs :+ benchDoc).zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val bench = Seq((99L, benchDoc)).toDF("doc_id", "text")
      val got = Decontam.fuzzyReport(corpus, "doc_id", "text",
          bench, "doc_id", "text", n = 3, numHashes = 8, bands = 4)
        .collect().map(r => (r.getLong(0), r.getInt(2), r.getInt(3)))
      got.foreach { case (_, common, nb) =>
        assert(common >= 1 && common <= nb && 2 * common >= nb)
      }
      // the planted copy shares every band bucket → always a candidate,
      // and containment is total
      val planted = got.find(_._1 == corpusDocs.length.toLong)
      assert(planted.isDefined, "verbatim copy not flagged")
      assert(planted.get._2 == planted.get._3)
    }
  }

  test("semDedup laws on random vectors: labels are a partition refinement " +
      "(comp = member min, sizes sum to n, comp is reflexive-transitive " +
      "over the pair graph)") {
    import graft.operators.Dedup
    val gen = for {
      n <- Gen.choose(30, 80)
      dim <- Gen.choose(4, 8)
      vals <- Gen.listOfN(n * dim, Gen.choose(-5, 5).map(_.toDouble))
    } yield (n, dim, vals)
    forAll(gen) { case (n, dim, vals) =>
      val rows = (0 until n).map(i =>
        (i.toLong, vals.slice(i * dim, (i + 1) * dim)))
      // guard all-zero vectors (cosine undefined) by offsetting dim 0
      val df = rows.map { case (id, v) => (id, v.updated(0, v.head + 10.0)) }
        .toDF("vec_id", "embedding")
      val got = Dedup.semDedup(df, "vec_id", "embedding",
        nCells = 4, lloydIters = 2, threshold = 0.995)
        .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
      assert(got.length == n, "every vector labeled exactly once")
      val byComp = got.groupBy(_._2)
      byComp.foreach { case (comp, members) =>
        // canonical id is the minimum member and a member itself
        assert(members.map(_._1).min == comp)
        // every member agrees on the cluster size, which is the count
        assert(members.forall(_._3 == members.length))
      }
      assert(byComp.values.map(_.length).sum == n)
    }
  }

  test("HashJoinExec == Catalyst join on random tables and key types") {
    import org.apache.spark.sql.{Column, DataFrame}
    val key = Gen.frequency(1 -> Gen.const(Option.empty[Int]),
      6 -> Gen.chooseNum(-2, 2).map(Option(_)))
    // Gen.choose, not chooseNum: chooseNum draws its bounds (an empty
    // side) far too often; the first two cases below empty one side each
    val side = Gen.choose(1, 30).flatMap(n =>
      Gen.listOfN(n, Gen.zip(key, key)))
    val gen = Gen.zip(side, side)
    // (name, left key cast, right key cast): a key domain of -2..2 gives
    // duplicate keys on both sides (negative ones: an int and a long -1
    // differ in their bytes); every seventh key is null
    val types: Seq[(String, Column => Column, Column => Column)] = Seq(
      ("int", _.cast("int"), _.cast("int")),
      ("long", _.cast("long"), _.cast("long")),
      ("string", c => concat(lit("s"), c), c => concat(lit("s"), c)),
      ("double", _ / 2.0, _ / 2.0),
      ("date", date_add(lit("2024-01-01").cast("date"), _),
        date_add(lit("2024-01-01").cast("date"), _)),
      ("int vs long", _.cast("int"), _.cast("long")))
    // every shuffle partition joins its own table: keep AQE from
    // coalescing these small sides into one partition
    val coalesce = "spark.sql.adaptive.coalescePartitions.enabled"
    spark.conf.set(coalesce, "false")
    try types.zipWithIndex.foreach { case ((name, lCast, rCast), i) =>
      val (ls0, rs0) = gen.pureApply(Gen.Parameters.default, Seed(7L + i))
      val nKeys = 1 + i % 2
      val ls = if (i == 0) Nil else ls0
      val rs = if (i == 1) Nil else rs0
      val keys = Seq("k1", "k2").take(nKeys)
      def table(rows: List[(Option[Int], Option[Int])], cast: Column => Column,
                v: String): DataFrame =
        rows.zipWithIndex.map { case ((a, b), j) => (a, b, j.toLong) }
          .toDF("k1", "k2", v)
          .select(cast($"k1").as("k1"), cast($"k2").as("k2"), col(v))
          .select((keys :+ v).map(col): _*)
      val l = table(ls, lCast, "a")
      val r = table(rs, rCast, "b")
      for (how <- Seq("inner", "left")) {
        val ours =
          if (how == "inner") operators.Joins.innerJoinOverride(l, r, keys)
          else operators.Joins.leftJoinOverride(l, r, keys)
        val catalyst = l.join(r, keys.map(k => l(k) === r(k)).reduce(_ && _), how)
          .select(keys.map(l(_)) :+ l("a") :+ r("b"): _*)
        assert(ours.schema.map(_.dataType) == catalyst.schema.map(_.dataType),
          s"$name $how")
        assert(ours.exceptAll(catalyst).isEmpty &&
          catalyst.exceptAll(ours).isEmpty,
          s"$name $how, $nKeys keys, ${ls.length} x ${rs.length} rows")
      }
    } finally spark.conf.unset(coalesce)
  }

  test("GroupKernel == Catalyst on random tables, keys, and agg mixes") {
    // key-3 lets some draws pass MaxDense (2^20 key cells; the seeds below
    // draw one at 16 × 16 × 7118), so both the dense and the hashed slot
    // branch of the kernel are exercised
    val tables = Gen.zip(
      Gen.chooseNum(1, 20000),           // rows
      Gen.chooseNum(1, 40),              // key-1 cardinality
      Gen.chooseNum(1, 25),              // key-2 cardinality
      Gen.chooseNum(1, 1 << 16),         // key-3 cardinality
      Gen.chooseNum(0L, 1L << 40))       // value offset (range stress)
    forAll(tables) { case (n, c1, c2, c3, off) =>
      val base = spark.range(n.toLong).select(
        concat(lit("k"), pmod(hash($"id" * 7 + 1), lit(c1)).cast("string")).as("g"),
        pmod(hash($"id" * 11 + 3), lit(c2)).cast("int").as("h"),
        pmod(hash($"id" * 19 + 11), lit(c3.toLong)).as("x"),
        (pmod(hash($"id" * 13 + 5), lit(1000)) + lit(off)).cast("long").as("v"),
        (pmod(hash($"id" * 17 + 7), lit(9973)).cast("double") / 7.0).as("d"))
        .cache()
      base.count()
      operators.GroupKernel.encode(base, Seq("g", "h", "x"))
      val q = "(select {s: (sum v) a: (avg d) lo: (min v) hi: (max d) " +
        "n: (count v) r: (- (max v) (min v)) from: t by: {g: g h: h x: x}})"
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.orderBy("g", "h", "x").collect().map(_.toSeq.map {
          case dd: Double => math.round(dd * 1e9) // tolerate merge-order ULPs
          case x => x
        }).toSeq
      val kernel = rows(rayfall.Rayfall.query(q, Map("t" -> base)))
      operators.GroupKernel.unregister(base)
      val plain = rows(rayfall.Rayfall.query(q, Map("t" -> base)))
      assert(kernel == plain)
      base.unpersist()
    }
  }

  test("kdb wire serde round-trips random nested values bit-exactly") {
    import graft.rayfall.Rayfall._
    val atomGen: Gen[Any] = Gen.oneOf(
      Gen.choose(Long.MinValue, Long.MaxValue).map(java.lang.Long.valueOf),
      Gen.choose(-1e12, 1e12).map(java.lang.Double.valueOf),
      Gen.oneOf(true, false).map(java.lang.Boolean.valueOf),
      Gen.listOfN(6, Gen.alphaNumChar).map(_.mkString))
    def vecGen: Gen[RVal] = Gen.oneOf(
      Gen.nonEmptyListOf(Gen.choose(-999999L, 999999L)
        .map(java.lang.Long.valueOf)).map(xs => VVec(xs.toVector)),
      Gen.nonEmptyListOf(Gen.choose(-10.0, 10.0)
        .map(java.lang.Double.valueOf)).map(xs => VVec(xs.toVector)),
      Gen.nonEmptyListOf(Gen.listOfN(4, Gen.alphaChar).map(_.mkString))
        .map(xs => VVec(xs.toVector)),
      Gen.nonEmptyListOf(atomGen).map(xs => VVec(xs.toVector)))
    val dictGen: Gen[RVal] = for {
      n <- Gen.choose(1, 5)
      ks <- Gen.listOfN(n, Gen.listOfN(3, Gen.alphaChar).map(_.mkString))
      vs <- Gen.listOfN(n, atomGen)
    } yield VDict(ks.toVector, vs.toVector)
    val valGen: Gen[RVal] =
      Gen.oneOf(atomGen.map(VAtom(_)), vecGen, dictGen)
    forAll(Gen.listOfN(20, valGen)) { vs =>
      vs.foreach { v =>
        val rt = kx.KdbSerde.decodeMsg(spark,
          kx.KdbSerde.encodeMsg(v, 1))._2
        // mixed lists of uniform longs/doubles/strings come back as the
        // corresponding typed vector — the value equality is what the
        // protocol promises
        assert(rt == v, s"round-trip changed $v -> $rt")
      }
    }
  }

  test("native binary serde round-trips random nested values bit-exactly " +
      "(dates and null vector elements included)") {
    import graft.rayfall.{RaySerde, Rayfall}
    import graft.rayfall.Rayfall._
    val dateGen: Gen[Any] = Gen.choose(-9000L, 20000L)
      .map(d => java.time.LocalDate.ofEpochDay(10957 + d))
    val atomGen: Gen[Any] = Gen.oneOf(
      Gen.choose(Long.MinValue + 1, Long.MaxValue).map(java.lang.Long.valueOf),
      Gen.choose(-1e12, 1e12).map(java.lang.Double.valueOf),
      Gen.oneOf(true, false).map(java.lang.Boolean.valueOf),
      Gen.listOfN(6, Gen.alphaNumChar).map(_.mkString),
      dateGen)
    def orNull(g: Gen[Any]): Gen[Any] =
      Gen.frequency(4 -> g, 1 -> Gen.const(null: Any))
    def vecGen: Gen[RVal] = Gen.oneOf(
      Gen.nonEmptyListOf(orNull(Gen.choose(-999999L, 999999L)
        .map(java.lang.Long.valueOf))).map(xs => VVec(xs.toVector)),
      Gen.nonEmptyListOf(orNull(Gen.choose(-10.0, 10.0)
        .map(java.lang.Double.valueOf))).map(xs => VVec(xs.toVector)),
      Gen.nonEmptyListOf(Gen.listOfN(4, Gen.alphaChar).map(_.mkString))
        .map(xs => VVec(xs.toVector)),
      Gen.nonEmptyListOf(orNull(dateGen)).map(xs => VVec(xs.toVector)),
      Gen.nonEmptyListOf(atomGen).map(xs => VVec(xs.toVector)))
    val dictGen: Gen[RVal] = for {
      n <- Gen.choose(1, 5)
      ks <- Gen.listOfN(n, Gen.listOfN(3, Gen.alphaChar).map(_.mkString))
      vs <- Gen.listOfN(n, atomGen)
    } yield VDict(ks.toVector, vs.toVector)
    val valGen: Gen[RVal] =
      Gen.oneOf(atomGen.map(VAtom(_)), Gen.const(VAtom(null)), vecGen, dictGen)
    forAll(Gen.listOfN(20, valGen)) { vs =>
      vs.foreach { v =>
        val rt = RaySerde.deserialize(spark, RaySerde.serialize(v))
        assert(rt == v, s"round-trip changed $v -> $rt")
      }
    }
  }

  test("BPE laws on random corpora: greedy encode == rank-order " +
      "application, detokenization round-trips, census mass is " +
      "conserved (token count per word never exceeds chars+1)") {
    import graft.operators.Bpe
    val wordGen = Gen.chooseNum(1, 8).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf('a', 'b', 'c', 'd')).map(_.mkString))
    val corpusGen = Gen.chooseNum(5, 40).flatMap(n =>
      Gen.listOfN(n, wordGen))
    forAll(corpusGen) { words =>
      val df = Seq((1L, words.mkString(" "))).toDF("doc_id", "text")
      val merges = Bpe.trainMerges(df, "text", 12)
      val rk = merges.map(m => (m.lhs, m.rhs) -> m.rank).toMap
      // ranks are 1..k with no duplicate pairs
      assert(merges.map(_.rank) == (1 to merges.length))
      assert(merges.map(m => (m.lhs, m.rhs)).distinct.length ==
        merges.length)
      words.distinct.foreach { w =>
        val greedy = Bpe.encodeWord(w, rk)
        // law 1: greedy lowest-rank-first == merges applied in rank
        // order, one exhaustive left-to-right pass each
        var syms = Bpe.toSyms(w)
        merges.foreach(m => syms = Bpe.mergePass(syms, m.lhs, m.rhs))
        assert(greedy.toSeq == syms.toSeq, s"word $w")
        // law 2: concatenation minus the end mark rebuilds the word
        assert(greedy.mkString.stripSuffix(Bpe.EndMark) == w, w)
        // law 3: 1 <= tokens <= chars + endmark
        assert(greedy.length >= 1 && greedy.length <= w.length + 1, w)
      }
      // census mass conservation: sum(freq over tokens of word w) ==
      // occurrences(w) * tokens(w), aggregated corpus-wide
      val census = Bpe.tokenCensus(df, "text", merges)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val expect = words.groupBy(identity).map { case (w, occ) =>
        occ.length.toLong * Bpe.encodeWord(w, rk).length
      }.sum
      assert(census.values.sum == expect, census)
    }
  }

  test("t33/t34 layout invariance: LM scores and DSIR weights are " +
      "bit-identical across partition layouts (the integer-surprisal " +
      "determinism claim the oracles rest on)") {
    import graft.operators.{Dsir, NgramLm}
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val lm = NgramLm.fit(docs.filter($"lang" === "en"), "text")
    def lmRun(d: org.apache.spark.sql.DataFrame) =
      NgramLm.score(d, "doc_id", "text", lm, 24L, 5L)
        .orderBy($"doc_id").collect().toSeq
    assert(lmRun(docs.repartition(1)) == lmRun(docs.repartition(7)))
    val m = Dsir.fit(docs.filter($"lang" === "en"), docs, "text",
      n = 2, buckets = 1 << 12)
    def dsRun(d: org.apache.spark.sql.DataFrame) =
      Dsir.selectTopK(d, "doc_id", "text", m, 60).collect().toSeq
    assert(dsRun(docs.repartition(1)) == dsRun(docs.repartition(5)))
    // the model FIT is layout-invariant too (exact integer counts)
    val lm2 = NgramLm.fit(
      docs.filter($"lang" === "en").repartition(3), "text")
    assert(lm2.vPrime == lm.vPrime)
    assert(lm2.bigrams.orderBy($"m1", $"m2").collect().toSeq ==
      lm.bigrams.orderBy($"m1", $"m2").collect().toSeq)
  }

  test("ExactSubstr exactness bound (the dupSpanRemove scaladoc, each " +
      "clause adversarially): cross-doc spans >= n are excised in FULL " +
      "on random corpora; spans of n-1 are missed; within-one-doc " +
      "repeats are missed (the documented suffix-array divergences)") {
    import graft.operators.CorpusStats
    val n = 3
    // distinct background vocabularies per doc so no accidental shared
    // gram exists; the planted span is the only cross-doc duplication
    def bg(tag: String, k: Int): Seq[String] =
      (0 until k).map(i => s"$tag$i")
    val planted = Gen.chooseNum(n, 8).flatMap(l =>
      Gen.chooseNum(0, 5).map(off => (l, off)))
    forAll(planted) { case (l, off) =>
      val span = (0 until l).map(i => s"dup$i")
      val a = (bg("a", off) ++ span ++ bg("x", 4)).mkString(" ")
      val b = (bg("b", 2) ++ span ++ bg("y", 3)).mkString(" ")
      val docs = Seq((1L, a), (2L, b)).toDF("doc_id", "text")
      val out = CorpusStats.dupSpanRemove(docs, "doc_id", "text", n, 2)
        .orderBy($"id").collect()
      // EXACT for cross-doc spans >= n: the whole planted span (and
      // nothing else — backgrounds are disjoint) is removed from both
      assert(out.map(_.getLong(3)).toSeq == Seq(l.toLong, l.toLong),
        s"l=$l off=$off: ${out.mkString(";")}")
      assert(!out(0).getString(4).contains("dup") &&
        !out(1).getString(4).contains("dup"))
    }
    // miss clause 1: an (n-1)-token shared span has no shared n-gram —
    // untouched (Lee et al.'s threshold, in whole tokens)
    val shortSpan = (0 until n - 1).map(i => s"dup$i")
    val m1 = Seq(
      (1L, (bg("a", 3) ++ shortSpan ++ bg("x", 3)).mkString(" ")),
      (2L, (bg("b", 3) ++ shortSpan ++ bg("y", 3)).mkString(" ")))
      .toDF("doc_id", "text")
    val r1 = CorpusStats.dupSpanRemove(m1, "doc_id", "text", n, 2)
      .collect()
    assert(r1.forall(_.getLong(2) == 0L), r1.mkString(";"))
    // miss clause 2: a span repeated TWICE in one doc but in no other
    // doc is not excised (census counts distinct docs; the true
    // ExactSubstr suffix array counts occurrences and would drop it)
    val rep = (0 until n).map(i => s"dup$i")
    val m2 = Seq(
      (1L, (rep ++ bg("a", 3) ++ rep).mkString(" ")),
      (2L, bg("b", 8).mkString(" ")))
      .toDF("doc_id", "text")
    val r2 = CorpusStats.dupSpanRemove(m2, "doc_id", "text", n, 2)
      .collect()
    assert(r2.forall(_.getLong(2) == 0L),
      "within-doc repeats must not be excised by the cross-doc census: " +
        r2.mkString(";"))
  }

  test("FULL ExactSubstr (dupSpanRemoveFull) tightened bound: " +
      "within-doc repeats >= n ARE excised keep-first; only sub-n " +
      "spans are missed; cross-doc behavior unchanged") {
    import graft.operators.CorpusStats
    val n = 3
    def bg(tag: String, k: Int): Seq[String] =
      (0 until k).map(i => s"$tag$i")
    // a span of length l repeated twice inside doc 1 (nowhere else):
    // occurrence 2 is excised in FULL, occurrence 1 survives.
    // Span tokens differ in their FIRST letter — token codes hash the
    // leading chars + length, so dup0..dup7 would all collide into one
    // code (deterministically, in both engines) and over-flag
    val spanWord = "cdefghij".toCharArray
    forAll(Gen.zip(Gen.chooseNum(n, 8), Gen.chooseNum(0, 4))) { case (l, off) =>
      val span = (0 until l).map(i => s"${spanWord(i)}dup")
      val d1 = (bg("a", off) ++ span ++ bg("m", 3) ++ span ++ bg("x", 2))
        .mkString(" ")
      val docs = Seq((1L, d1), (2L, bg("b", 8).mkString(" ")))
        .toDF("doc_id", "text")
      val out = CorpusStats.dupSpanRemoveFull(docs, "doc_id", "text", n, 2)
        .orderBy($"id").collect()
      // tok_removed(doc1) == l (the second occurrence, exactly);
      // clean text keeps exactly ONE copy of the span
      assert(out(0).getLong(4) == l.toLong,
        s"l=$l off=$off: ${out.mkString(";")}")
      // exactly the l-n+1 grams of occurrence 2 are repeat starts
      assert(out(0).getLong(2) == (l - n + 1).toLong)
      val clean = out(0).getString(5)
      assert(span.forall(w => clean.split(" ").count(_ == w) == 1), clean)
      assert(out(1).getLong(4) == 0L)
    }
    // sub-n within-doc repeats still missed (clause 1 of the bound)
    val shortRep = (0 until n - 1).map(i => s"dup$i")
    val m = Seq((1L, (shortRep ++ bg("a", 3) ++ shortRep).mkString(" ")),
      (2L, bg("b", 8).mkString(" "))).toDF("doc_id", "text")
    val r = CorpusStats.dupSpanRemoveFull(m, "doc_id", "text", n, 2).collect()
    assert(r.forall(_.getLong(4) == 0L), r.mkString(";"))
    // cross-doc spans still excised from BOTH docs (t24 behavior kept)
    val span = (0 until 4).map(i => s"dup$i")
    val c = Seq((1L, (bg("a", 2) ++ span ++ bg("x", 3)).mkString(" ")),
      (2L, (bg("b", 3) ++ span ++ bg("y", 2)).mkString(" ")))
      .toDF("doc_id", "text")
    val rc = CorpusStats.dupSpanRemoveFull(c, "doc_id", "text", n, 2)
      .orderBy($"id").collect()
    assert(rc.map(_.getLong(4)).toSeq == Seq(4L, 4L), rc.mkString(";"))
    assert(rc.forall(!_.getString(5).contains("dup")))
  }
}
