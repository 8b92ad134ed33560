package graft

import org.apache.spark.sql.functions._
import graft.operators.{AsofJoin, Quantiles, Upsert, WindowJoin}

/** Semantics pinned to the reference's join/upsert behavior
  * (`/root/reference/core/join.c`, `core/update.c:556`,
  * `examples/asof.rfl`). */
class OperatorsSpec extends SparkSpec {
  import spark.implicits._

  test("quantile census == the sorted-rank definition (smallest v at " +
      "rank ceil(p%*n)) per slice, on the real table and on skewed " +
      "fixtures incl. p100 and single-value slices") {
    val li = Tables.load(spark, sf, "lineitem")
    val percents = Seq(25, 50, 90, 99, 100)
    val got = Quantiles.quantileCensus(li, Seq("l_returnflag"),
      "l_quantity", percents)
      .collect().map(r => r.getString(0) ->
        percents.indices.map(i => r.getDouble(i + 1))).toMap
    val byFlag = li.select($"l_returnflag", $"l_quantity").collect()
      .map(r => r.getString(0) -> r.getDouble(1))
      .groupBy(_._1).map { case (f, vs) => f -> vs.map(_._2).sorted }
    byFlag.foreach { case (f, vs) =>
      val expect = percents.map { p =>
        vs((math.ceil(p * vs.length / 100.0) - 1).toInt.max(0))
      }
      assert(got(f) == expect, s"flag $f: ${got(f)} vs $expect")
    }
    // skew: one dominant value + a single-value slice
    val fix = (Seq.fill(97)(("a", 5.0)) ++ Seq(("a", 1.0), ("a", 9.0),
      ("a", 9.0)) ++ Seq(("b", 3.0))).toDF("g", "v")
    val q = Quantiles.quantileCensus(fix, Seq("g"), "v", Seq(1, 50, 98, 100))
      .collect().map(r => r.getString(0) ->
        (1 to 4).map(r.getDouble)).toMap
    assert(q("a") == Seq(1.0, 5.0, 5.0, 9.0))   // rank 1, 50, 98, 100
    assert(q("b") == Seq(3.0, 3.0, 3.0, 3.0))
  }

  test("json extraction (q66 shape): missing key, malformed JSON and " +
      "NULL props all yield NULL and drop out; valid rows aggregate") {
    val df = Seq(("a", "{\"k\": 3}"), ("a", "{\"j\": 9}"),
      ("a", "not json"), ("a", null), ("b", "{\"k\": 50}"))
      .toDF("event_type", "props")
    val got = df.select($"event_type",
        get_json_object($"props", "$.k").cast("long").as("k"))
      .filter($"k".isNotNull)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"), sum($"k").as("sum_k"),
        count(when($"k" >= 50, 1)).as("n_hi"))
      .orderBy($"event_type").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(got == Map("a" -> ((1L, 3L, 0L)), "b" -> ((1L, 50L, 1L))))
  }

  test("retention cohort semantics (q67 shape): duplicate events within " +
      "an hour count once, h+1 retains, h+2 does not, empty next hour " +
      "reports 0") {
    val h = 3600L * 1000 * 1000 * 1000 // one hour of epoch-nanos
    val df = Seq(
      (1L, 0L), (1L, 10L),      // u1 twice in hour 0 → one census row
      (1L, h + 5L),             // u1 in hour 1 → retained from 0
      (2L, 0L),                 // u2 only hour 0 → not retained
      (3L, h), (3L, 3 * h)      // u3 hours 1 and 3 → gap, not retained
    ).toDF("user_id", "ts")
    val c = df.select($"user_id", ($"ts".cast("decimal(38,0)") / h)
      .cast("long").as("hh")).distinct()
    // the shipped q67 shape: lead over the per-user hour order, no join
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"hh")
    val got = c.withColumn("ret",
        when(lead($"hh", 1).over(w) === $"hh" + 1, 1L).otherwise(0L))
      .groupBy($"hh")
      .agg(count(lit(1)).as("n_active"), sum($"ret").as("n_retained"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(got == Map(0L -> ((2L, 1L)),   // u1,u2 active; only u1 retained
      1L -> ((2L, 0L)),                   // u1,u3 active; nobody in hour 2
      3L -> ((1L, 0L))))
  }

  test("deterministic corr/covar (q68): equals a driver replay of the " +
      "integer-moment chain, is layout-invariant, and agrees with " +
      "Spark's corr to 1e-6") {
    val sfDir = sf
    def run(mangle: org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.DataFrame) = {
      val base = Tables.load(spark, sfDir, "lineitem")
      // the q68 chain over a (possibly re-laid-out) input
      val m = mangle(base).select($"l_returnflag",
        $"l_quantity".cast("long").as("x"),
        round($"l_extendedprice" * 100).cast("long").as("y"))
      val a = m.groupBy($"l_returnflag").agg(
        count(lit(1)).as("n"), sum($"x").as("sx"), sum($"y").as("sy"),
        sum(($"x" * $"x").cast("decimal(38,0)")).as("sxx"),
        sum(($"y" * $"y").cast("decimal(38,0)")).as("syy"),
        sum(($"x" * $"y").cast("decimal(38,0)")).as("sxy"))
      def d(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
      val num = d($"n") * d($"sxy") - d($"sx") * d($"sy")
      val vx = d($"n") * d($"sxx") - d($"sx") * d($"sx")
      val vy = d($"n") * $"syy" - d($"sy") * d($"sy")
      a.select($"l_returnflag",
          graft.functions.RF.roundBin(num.cast("double") /
            (sqrt(vx.cast("double")) * sqrt(vy.cast("double"))), 6)
            .as("c"))
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    }
    val got = run(identity)
    assert(got == run(_.repartition(7)), "moments must be layout-free")
    // driver replay with BigInt moments, identical final double chain
    val rows = Tables.load(spark, sfDir, "lineitem")
      .select($"l_returnflag", $"l_quantity", $"l_extendedprice")
      .collect()
      .map(r => (r.getString(0), r.getDouble(1).toLong,
        math.round(r.getDouble(2) * 100)))
    rows.groupBy(_._1).foreach { case (f, vs) =>
      val n = BigInt(vs.length)
      val sx = vs.map(v => BigInt(v._2)).sum
      val sy = vs.map(v => BigInt(v._3)).sum
      val sxx = vs.map(v => BigInt(v._2) * v._2).sum
      val syy = vs.map(v => BigInt(v._3) * v._3).sum
      val sxy = vs.map(v => BigInt(v._2) * v._3).sum
      val c = (n * sxy - sx * sy).toDouble /
        (math.sqrt((n * sxx - sx * sx).toDouble) *
          math.sqrt((n * syy - sy * sy).toDouble))
      assert(got(f) == math.floor(c * 1e6 + 0.5) / 1e6, s"flag $f")
    }
    // sanity vs Spark's own (order-dependent) corr
    val sparkCorr = Tables.load(spark, sfDir, "lineitem")
      .groupBy($"l_returnflag")
      .agg(corr($"l_quantity", $"l_extendedprice").as("c"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    got.foreach { case (f, c) =>
      assert(math.abs(c - sparkCorr(f)) < 1e-6, s"flag $f vs Spark corr")
    }
  }

  test("ema: per-key sequential fold matches a driver replay (seed = " +
      "first value, keys reset the state), at alpha 1/2 and 1/4; " +
      "result is layout-invariant") {
    import graft.operators.Ema
    val df = Seq(
      (1L, 10L, 100L, 4.0), (1L, 20L, 101L, 8.0), (1L, 30L, 102L, 2.0),
      (2L, 5L, 200L, 10.0), (2L, 6L, 201L, 0.0),
      (3L, 1L, 300L, 7.5)  // single-row key: ema == value
    ).toDF("k", "ts", "id", "v")
    def run(aNum: Int, aDen: Int, parts: Int) =
      Ema.ema(df.repartition(parts), "k", "ts", "id", "v", aNum, aDen)
        .orderBy($"k", $"id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    def replay(aNum: Int, aDen: Int) = Seq(
      (1L, Seq((100L, 4.0), (101L, 8.0), (102L, 2.0))),
      (2L, Seq((200L, 10.0), (201L, 0.0))),
      (3L, Seq((300L, 7.5)))).flatMap { case (k, vs) =>
      var prev = 0.0
      vs.zipWithIndex.map { case ((id, v), i) =>
        val e = if (i == 0) v else (aNum * v + (aDen - aNum) * prev) / aDen
        prev = e
        (k, id, e)
      }
    }
    assert(run(1, 2, 1) == replay(1, 2))
    assert(run(1, 2, 5) == replay(1, 2), "layout must not change the fold")
    assert(run(1, 4, 3) == replay(1, 4))
  }

  test("cusum: per-key fold with the max-0 reset matches a hand replay, " +
      "is layout-invariant, and fail-fasts on null inputs") {
    import graft.operators.Cusum
    val df = Seq(
      (1L, 10L, 100L, 3L), (1L, 20L, 101L, 9L), (1L, 30L, 102L, 1L),
      (1L, 40L, 103L, 12L),
      (2L, 5L, 200L, 20L), (2L, 6L, 201L, 1L),
      (3L, 1L, 300L, 4L)
    ).toDF("k", "ts", "id", "vq")
    def run(parts: Int) =
      Cusum.cusum(df.repartition(parts), "k", "ts", "id", $"vq", kRef = 5L)
        .orderBy($"k", $"id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // kRef 5: key 1 → 0, 4, 0 (reset), 7; key 2 → 15, 11; key 3 → 0
    val expect = Seq((1L, 100L, 0L), (1L, 101L, 4L), (1L, 102L, 0L),
      (1L, 103L, 7L), (2L, 200L, 15L), (2L, 201L, 11L), (3L, 300L, 0L))
    assert(run(1) == expect)
    assert(run(7) == expect, "layout must not change the fold")
    val e = intercept[Exception] {
      Cusum.cusum(Seq((1L, 1L, 1L, None: Option[Long]))
          .toDF("k", "ts", "id", "vq"), "k", "ts", "id", $"vq", 0L)
        .collect()
    }
    assert(e.getMessage.contains("null") ||
      Option(e.getCause).exists(_.getMessage.contains("null")), e.toString)
  }

  test("concentrationCard: gini equals the brute-force sorted-rank " +
      "definition; a uniform source and a singleton source read 0") {
    val docs = Seq(
      ("a", 1L, "x x x"), ("a", 2L, "x x x"), // uniform → gini 0
      ("b", 3L, "x"), ("b", 4L, "x x x x x x x"), // (1, 7)
      ("c", 5L, "x x") // singleton → gini 0
    ).toDF("source", "doc_id", "text")
    val got = operators.CorpusStats
      .concentrationCard(docs, "source", "doc_id", "text")
      .collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
      .toMap
    // b: x=(1,7): num = (2·1−3)·1 + (2·2−3)·7 = 6; gini = 6/(2·8) = 0.375
    assert(got("a") == ((2L, 6L, 0.0, 0.5)))
    assert(got("b") == ((2L, 8L, 0.375, 0.875)))
    assert(got("c") == ((1L, 2L, 0.0, 1.0)))
  }

  test("deterministic mode (q71 shape): count ties resolve to the " +
      "SMALLEST value; n_values counts distinct values") {
    val df = Seq(("a", 7L), ("a", 7L), ("a", 5L), ("a", 5L), ("a", 9L),
      ("b", 3L)).toDF("g", "v")
    val got = df.groupBy($"g", $"v").agg(count(lit(1)).as("c"))
      .groupBy($"g")
      .agg(max_by($"v", $"c" * 64 - $"v").as("mode_v"),
        max($"c").as("mode_n"), count(lit(1)).as("n_values"))
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(got == Map("a" -> ((5L, 2L, 3L)), "b" -> ((3L, 1L, 1L))))
  }

  test("asof join: greatest right ts <= left ts, ties inclusive, miss -> null") {
    val trades = Seq(("AAPL", 10L, 100.0), ("AAPL", 20L, 101.0),
      ("MSFT", 5L, 50.0)).toDF("sym", "ts", "price")
    val quotes = Seq(("AAPL", 8L, 99.0), ("AAPL", 10L, 99.5),
      ("AAPL", 15L, 100.5), ("GOOG", 1L, 1.0)).toDF("sym", "ts", "bid")
    val got = AsofJoin.asofJoin(trades, quotes, Seq("sym"), "ts")
      .orderBy($"sym", $"ts")
      .collect().map(r => (r.getString(0), r.getLong(1), Option(r.get(3))))
    assert(got.toSeq == Seq(
      ("AAPL", 10L, Some(99.5)),   // tie at ts=10 matches (<= inclusive)
      ("AAPL", 20L, Some(100.5)),  // greatest <= 20 is 15, not 8
      ("MSFT", 5L, None)))         // no MSFT quotes -> null
  }

  test("asof join: matched row wins even when its payload is null") {
    val l = Seq((1L, 10L)).toDF("k", "ts")
    val r = Seq((1L, 5L, Some(7.0)), (1L, 9L, None))
      .toDF("k", "ts", "v")
    val got = AsofJoin.asofJoin(l, r, Seq("k"), "ts").collect().head
    // latest right row (ts=9) has v=null; must NOT fall back to ts=5's 7.0
    assert(got.isNullAt(got.fieldIndex("v")))
  }

  test("asof join: shared payload name — right wins on match, left on miss") {
    // reference ray_asof_join routes through __left_join_inner: a right
    // payload column named like a left column overrides it on a match
    val l = Seq(("a", 10L, 1.0), ("b", 10L, 2.0)).toDF("k", "ts", "value")
    val r = Seq(("a", 5L, 9.0)).toDF("k", "ts", "value")
    val got = AsofJoin.asofJoin(l, r, Seq("k"), "ts")
      .orderBy($"k").collect()
    assert(got.map(_.schema.fieldNames.toSeq).head == Seq("k", "ts", "value"))
    assert(got.map(x => (x.getString(0), x.getDouble(2))).toSeq ==
      Seq(("a", 9.0), ("b", 2.0)))
  }

  test("merge-exec asof join: same fixtures as the window variant") {
    val trades = Seq(("AAPL", 10L, 100.0), ("AAPL", 20L, 101.0),
      ("MSFT", 5L, 50.0)).toDF("sym", "ts", "price")
    val quotes = Seq(("AAPL", 8L, 99.0), ("AAPL", 10L, 99.5),
      ("AAPL", 15L, 100.5), ("GOOG", 1L, 1.0)).toDF("sym", "ts", "bid")
    val got = AsofJoin.asofJoinMerge(trades, quotes, Seq("sym"), "ts")
      .orderBy($"sym", $"ts")
      .collect().map(r => (r.getString(0), r.getLong(1), Option(r.get(3))))
    assert(got.toSeq == Seq(
      ("AAPL", 10L, Some(99.5)),
      ("AAPL", 20L, Some(100.5)),
      ("MSFT", 5L, None)))
    // plan actually uses the custom exec
    val plan = AsofJoin.asofJoinMerge(trades, quotes, Seq("sym"), "ts")
      .queryExecution.executedPlan.toString
    assert(plan.contains("AsofJoin"), s"custom exec missing from:\n$plan")
  }

  test("merge-exec asof: matched-null payload and shared-name override") {
    val l = Seq((1L, 10L)).toDF("k", "ts")
    val r = Seq((1L, 5L, Some(7.0)), (1L, 9L, None)).toDF("k", "ts", "v")
    val got = AsofJoin.asofJoinMerge(l, r, Seq("k"), "ts").collect().head
    assert(got.isNullAt(got.fieldIndex("v"))) // matched row's null wins
    val l2 = Seq(("a", 10L, 1.0), ("b", 10L, 2.0)).toDF("k", "ts", "value")
    val r2 = Seq(("a", 5L, 9.0)).toDF("k", "ts", "value")
    val got2 = AsofJoin.asofJoinMerge(l2, r2, Seq("k"), "ts")
      .orderBy($"k").collect()
    assert(got2.map(x => (x.getString(0), x.getDouble(2))).toSeq ==
      Seq(("a", 9.0), ("b", 2.0)))
  }

  test("window join keeps left rows with no right rows in range") {
    val l = Seq((1L, "a", 100L), (2L, "a", 900L)).toDF("id", "k", "ts")
    val r = Seq(("a", 95L, 1.0), ("a", 105L, 2.0), ("a", 400L, 9.0))
      .toDF("k", "ts", "v")
    val got = WindowJoin.windowJoin(l, r, Seq("id"), Seq("k"), "ts",
      lit(-10L), lit(10L), Seq(count($"v").as("n"), sum($"v").as("s")))
      .orderBy($"id").collect()
    assert(got(0).getLong(got(0).fieldIndex("n")) == 2L)
    assert(got(0).getDouble(got(0).fieldIndex("s")) == 3.0)
    assert(got(1).isNullAt(got(1).fieldIndex("n"))) // no clicks near ts=900
  }

  test("window join jtype 0 includes the prevailing row (kdb wj)") {
    // windows are ±10. For ts=100 → [90,110]: no right row at-or-before
    // 90 except 85 (the prevailing), 105 in-window, 120 outside.
    // jtype 1 sees only [90,110] → just 105.
    val l = Seq((1L, "a", 100L), (2L, "a", 200L)).toDF("id", "k", "ts")
    val r = Seq(("a", 85L, 1.0), ("a", 105L, 2.0), ("a", 120L, 9.0))
      .toDF("k", "ts", "v")
    val prev = WindowJoin.windowJoin(l, r, Seq("id"), Seq("k"), "ts",
      lit(-10L), lit(10L), Seq(count($"v").as("n"), sum($"v").as("s")),
      jtype = 0).orderBy($"id").collect()
    // ts=100: prevailing 85 + in-window 105
    assert(prev(0).getLong(prev(0).fieldIndex("n")) == 2L)
    assert(prev(0).getDouble(prev(0).fieldIndex("s")) == 3.0)
    // ts=200 → [190,210]: nothing in-window, prevailing 120 still counts
    assert(prev(1).getLong(prev(1).fieldIndex("n")) == 1L)
    assert(prev(1).getDouble(prev(1).fieldIndex("s")) == 9.0)
    val inc = WindowJoin.windowJoin(l, r, Seq("id"), Seq("k"), "ts",
      lit(-10L), lit(10L), Seq(count($"v").as("n")), jtype = 1)
      .orderBy($"id").collect()
    assert(inc(0).getLong(inc(0).fieldIndex("n")) == 1L)
    assert(inc(1).isNullAt(inc(1).fieldIndex("n")))
  }

  test("sliding window join equals the generic range join (jtype 0/1)") {
    val rnd = new scala.util.Random(7)
    val l = (0 until 300).map(i =>
      (i.toLong, if (rnd.nextBoolean()) "a" else "b", rnd.nextInt(1000).toLong))
      .toDF("id", "k", "ts")
    val r = (0 until 500).map(_ =>
      (if (rnd.nextBoolean()) "a" else "b", rnd.nextInt(1000).toLong,
        rnd.nextInt(100).toLong, rnd.nextDouble()))
      .toDF("k", "ts", "v", "d")
    // two keys drawn from {"a", "x", null}: a left ("x", null) must not
    // meet a right (null, "x"), and a null key matches nothing
    def key() = Seq(Some("a"), Some("x"), None)(rnd.nextInt(3))
    val l2 = (0 until 300).map(i =>
      (i.toLong, key(), key(), rnd.nextInt(1000).toLong))
      .toDF("id", "k", "k2", "ts")
    val r2 = (0 until 500).map(_ =>
      (key(), key(), rnd.nextInt(1000).toLong, rnd.nextInt(100).toLong,
        rnd.nextDouble()))
      .toDF("k", "k2", "ts", "v", "d")
    for ((l, r, keys) <- Seq((l, r, Seq("k")), (l2, r2, Seq("k", "k2")));
         jt <- Seq(1, 0)) {
      val generic = WindowJoin.windowJoin(l, r, Seq("id"), keys, "ts",
        lit(-50L), lit(50L),
        Seq(min($"v").as("mn"), max($"v").as("mx"),
          sum($"v").as("sv"), count($"v").as("n"),
          round(sum($"d"), 6).as("sd")),
        jtype = jt)
        .select($"id", $"mn", $"mx", expr("CAST(sv AS LONG) AS sv"), $"n", $"sd")
        .orderBy($"id").collect()
      val sliding = WindowJoin.windowJoinSliding(l, r, keys, "ts",
        -50L, 50L,
        Seq(WindowJoin.Agg("min", "v", "mn"), WindowJoin.Agg("max", "v", "mx"),
          WindowJoin.Agg("sum", "v", "sv"), WindowJoin.Agg("count", "v", "n"),
          WindowJoin.Agg("sum", "d", "sd")),
        jtype = jt)
        .select($"id", $"mn", $"mx", $"sv", $"n", round($"sd", 6).as("sd"))
        .orderBy($"id").collect()
      assert(generic.length == sliding.length)
      generic.zip(sliding).foreach { case (g, s) =>
        assert(g.toSeq == s.toSeq, s"keys=$keys jtype=$jt\n g=$g\n s=$s") }
    }
  }

  /** The IllegalArgumentException somewhere in `e`'s cause chain. */
  private def argumentError(e: Throwable): IllegalArgumentException =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .collectFirst { case a: IllegalArgumentException => a }
      .getOrElse(fail(s"no IllegalArgumentException in $e"))

  test("sliding window join throws on a null left ts") {
    val l = Seq((1L, "a", Some(100L)), (2L, "a", None)).toDF("id", "k", "ts")
    val r = Seq(("a", 90L, 5L)).toDF("k", "ts", "v")
    val e = intercept[Exception](WindowJoin.windowJoinSliding(l, r, Seq("k"),
      "ts", -50L, 50L, Seq(WindowJoin.Agg("count", "v", "n"))).collect())
    assert(argumentError(e).getMessage.contains("null ts in the left input"))
  }

  test("sliding window join throws on a null right ts, even off every left key") {
    val l = Seq((1L, "a", 100L)).toDF("id", "k", "ts")
    val r = Seq(("a", Some(90L), 5L), ("z", None, 6L)).toDF("k", "ts", "v")
    val e = intercept[Exception](WindowJoin.windowJoinSliding(l, r, Seq("k"),
      "ts", -50L, 50L, Seq(WindowJoin.Agg("count", "v", "n"))).collect())
    assert(argumentError(e).getMessage.contains("null ts in the right input"))
  }

  test("sliding window join matches an int key against a long key") {
    // 20 keys over 4 shuffle partitions: an int and a long hash apart
    // unless both sides are cast to the common type first
    val l = (1 to 20).map(i => (i.toLong, i, 100L)).toDF("id", "k", "ts")
    val r = (1 to 20).map(i => (i.toLong, 95L, i * 10L)).toDF("k", "ts", "v")
    val got = WindowJoin.windowJoinSliding(l, r, Seq("k"), "ts", -50L, 50L,
      Seq(WindowJoin.Agg("sum", "v", "sv")))
    assert(got.schema.map(f => f.name -> f.dataType) == Seq(
      "id" -> org.apache.spark.sql.types.LongType,
      "k" -> org.apache.spark.sql.types.IntegerType,
      "ts" -> org.apache.spark.sql.types.LongType,
      "sv" -> org.apache.spark.sql.types.LongType))
    assert(got.orderBy($"id").collect().map(x => x.getInt(1) -> x.getLong(3))
      .toSeq == (1 to 20).map(i => i -> i * 10L))
    // the merge exec plans it: one hash exchange per side, on the cast keys
    val plan = got.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert("""(?m)^\(\d+\) WindowJoin\b""".r.findFirstIn(plan).isDefined,
      s"merge exec missing from:\n$plan")
    assert(plan.linesIterator.count(_.trim.startsWith(
      "Arguments: hashpartitioning")) == 2, plan)
  }

  test("sliding window join skips null values; count counts window rows") {
    val l = Seq((1L, "a", 100L)).toDF("id", "k", "ts")
    val r = Seq(("a", 90L, Some(5L)), ("a", 95L, None), ("a", 105L, Some(3L)))
      .toDF("k", "ts", "v")
    val got = WindowJoin.windowJoinSliding(l, r, Seq("k"), "ts", -50L, 50L,
      Seq(WindowJoin.Agg("min", "v", "mn"), WindowJoin.Agg("max", "v", "mx"),
        WindowJoin.Agg("sum", "v", "sv"), WindowJoin.Agg("count", "v", "n")))
      .collect().head
    assert(got.getLong(got.fieldIndex("mn")) == 3L)
    assert(got.getLong(got.fieldIndex("mx")) == 5L)
    assert(got.getLong(got.fieldIndex("sv")) == 8L)
    // reference count is unconditional: 3 rows in the window
    assert(got.getLong(got.fieldIndex("n")) == 3L)
    // all-null window → null min/max
    val rNull = Seq(("a", 90L, None: Option[Long])).toDF("k", "ts", "v")
    val g2 = WindowJoin.windowJoinSliding(l, rNull, Seq("k"), "ts", -50L, 50L,
      Seq(WindowJoin.Agg("min", "v", "mn"))).collect().head
    assert(g2.isNullAt(g2.fieldIndex("mn")))
  }

  test("upsert: hit rows take source wholesale (incl. nulls), misses append") {
    val target = Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("k", "name", "bal")
    val source = Seq((2L, "B2", null.asInstanceOf[java.lang.Double]),
      (3L, "c", java.lang.Double.valueOf(30.0))).toDF("k", "name", "bal")
    val got = Upsert.upsert(target, source, Seq("k")).orderBy($"k").collect()
    assert(got.length == 3)
    assert(got(0).getString(1) == "a" && got(0).getDouble(2) == 10.0)
    assert(got(1).getString(1) == "B2" && got(1).isNullAt(2)) // null wins
    assert(got(2).getString(1) == "c" && got(2).getDouble(2) == 30.0)
  }

  test("asofJoinNarrow equals the standard asof join on a wide left table") {
    val trades = Seq(("AAPL", 10L, 100.0, "x1", "y1"), ("AAPL", 20L, 101.0, "x2", "y2"),
      ("MSFT", 5L, 50.0, "x3", "y3")).toDF("sym", "ts", "price", "w1", "w2")
    val quotes = Seq(("AAPL", 8L, 99.0), ("AAPL", 15L, 100.5))
      .toDF("sym", "ts", "bid")
    val std = AsofJoin.asofJoin(trades, quotes, Seq("sym"), "ts")
      .orderBy($"sym", $"ts").collect().toSeq
    val nrw = AsofJoin.asofJoinNarrow(trades, quotes, Seq("sym"), "ts")
      .select(std.head.schema.fieldNames.map(org.apache.spark.sql.functions.col): _*)
      .orderBy($"sym", $"ts").collect().toSeq
    assert(nrw == std)
  }

  test("left-join override: right wins shared non-key cols on match only") {
    val l = Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("k", "name", "bal")
    val r = Seq((1L, 99.0, "x")).toDF("k", "bal", "extra")
    val got = operators.Joins.leftJoinOverride(l, r, Seq("k"))
      .orderBy($"k").collect()
    assert(got(0).getDouble(got(0).fieldIndex("bal")) == 99.0) // overridden
    assert(got(0).getString(got(0).fieldIndex("extra")) == "x")
    assert(got(1).getDouble(got(1).fieldIndex("bal")) == 20.0) // miss keeps left
    assert(got(1).isNullAt(got(1).fieldIndex("extra")))
  }

  test("inner-join override keeps only matches, right-only cols appended") {
    val l = Seq((1L, 10.0), (2L, 20.0)).toDF("k", "bal")
    val r = Seq((1L, 99.0)).toDF("k", "bal")
    val got = operators.Joins.innerJoinOverride(l, r, Seq("k")).collect()
    assert(got.length == 1 && got(0).getDouble(1) == 99.0)
  }

  test("upsert: source with subset of columns leaves missing cols from target") {
    val target = Seq((1L, "a", 10.0)).toDF("k", "name", "bal")
    val source = Seq((1L, 99.0)).toDF("k", "bal")
    val got = Upsert.upsert(target, source, Seq("k")).collect().head
    assert(got.getString(1) == "a" && got.getDouble(2) == 99.0)
  }

  test("count-min sketch: est >= true always (one-sided), exact at " +
      "large w, store append == combined build (merge-by-sum), " +
      "replayed batch id collapses, missing store fails fast") {
    import graft.operators.Cms
    val docs = Tables.load(spark, sf, "documents")
    val toks = docs.select(explode(split($"text", " ")).as("tok"))
    val truth = toks.groupBy($"tok").agg(count(lit(1)).as("t"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    def estMap(d: Int, w: Int) =
      Cms.estimates(Cms.cells(docs, "text", d, w),
        toks.select($"tok").distinct(), "tok", d, w)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val small = estMap(4, 16)
    assert(truth.forall { case (t, c) => small(t) >= c },
      "CMS must never undercount")
    assert(truth.exists { case (t, c) => small(t) > c },
      "w=16 over a 31-token vocab must actually collide")
    // w large: buckets uncrowded -> exact everywhere
    assert(estMap(4, 1 << 14) == truth)
    // store lifecycle: build(a) + append(b) == cells(a union b)
    val a = docs.filter($"doc_id" % 2 === 0L)
    val b = docs.filter($"doc_id" % 2 =!= 0L)
    val base = s"/tmp/graft_cms_spec/${System.nanoTime()}"
    Cms.buildCmsStore(a, "text", 4, 16, s"$base/store")
    Cms.appendToCmsStore(b, "text", s"$base/store", batchId = 3L)
    def fromStore() =
      Cms.estimatesFromStore(spark, s"$base/store",
        toks.select($"tok").distinct(), "tok")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(fromStore() == small)
    // replayed batch id: identical cells collapse at read
    Cms.appendToCmsStore(b, "text", s"$base/store", batchId = 3L)
    assert(fromStore() == small)
    val err = intercept[IllegalArgumentException] {
      Cms.appendToCmsStore(b, "text", s"$base/nowhere", 1L)
    }
    assert(err.getMessage.contains("buildCmsStore"))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
  }

  test("count-min sketch survives a pathological crawl token (~96k " +
      "chars): the code is bounded to < 2^22 before the row-key " +
      "multiply, so the i64 product can't overflow and abort the job " +
      "under ANSI; estimates stay one-sided") {
    import graft.operators.Cms
    val blob = "x" * 96000 // a base64-blob-shaped "token"
    val docs = Seq((1L, s"alpha $blob alpha"), (2L, s"$blob beta"))
      .toDF("doc_id", "text")
    val probes = Seq("alpha", "beta", blob).toDF("tok")
    val est = Cms.estimates(Cms.cells(docs, "text", 4, 16), probes,
        "tok", 4, 16)
      .collect().map(r => (r.getString(0).take(8), r.getLong(1))).toMap
    assert(est("alpha") >= 2L && est("beta") >= 1L && est("x" * 8) >= 2L,
      s"one-sidedness violated: $est")
  }

  test("asof join with tolerance: within-tol match keeps payload, a " +
      "STALE prevailing match nulls it (asof_within false), no-match " +
      "rows report false; colliding payload names fail fast") {
    val left = Seq((1L, 7L, 100L), (2L, 7L, 500L), (3L, 8L, 50L))
      .toDF("event_id", "k", "ts")
    val right = Seq((7L, 90L, 1.5), (7L, 80L, 9.9), (9L, 10L, 3.3))
      .toDF("k", "ts", "v")
    val got = AsofJoin.asofJoinTolerance(left, right, Seq("k"), "ts",
        tol = 50L)
      .orderBy($"event_id").collect()
      .map(r => (r.getLong(0), Option(r.get(3)).map(_.toString),
        r.getBoolean(r.length - 1)))
      .toSeq
    // event 1: prevailing (7, 90) at distance 10 <= 50 -> kept
    // event 2: prevailing (7, 90) at distance 410 -> stale, nulled
    // event 3: key 8 has no right rows -> miss
    assert(got == Seq((1L, Some("1.5"), true), (2L, None, false),
      (3L, None, false)), got.toString)
    val err = intercept[IllegalArgumentException] {
      AsofJoin.asofJoinTolerance(left,
        right.withColumnRenamed("v", "event_id"), Seq("k"), "ts", 50L)
    }
    assert(err.getMessage.contains("collides"))
  }

  test("asofJoinForward: first right row with r.ts >= l.ts per key; " +
      "equal ts matches (inclusive); no later right -> null payload; " +
      "ties on ts pick the last in table order; non-integer ts fails " +
      "fast") {
    val s = spark
    import s.implicits._
    val left = Seq(
      (1L, 7L, 100L),   // next right at ts 150
      (2L, 7L, 150L),   // equal-ts right matches (inclusive)
      (3L, 7L, 500L),   // nothing later -> miss
      (4L, 8L, 10L)     // key with no right rows -> miss
    ).toDF("event_id", "k", "ts")
    val right = Seq(
      (7L, 90L, "old"),
      (7L, 150L, "first150"),
      (7L, 150L, "last150"),  // tie on ts: last in table order wins
      (7L, 400L, "later")
    ).toDF("k", "ts", "v")
    val got = AsofJoin.asofJoinForward(left, right, Seq("k"), "ts")
      .orderBy($"event_id").collect()
      .map(r => (r.getLong(0), r.getLong(2),
        Option(r.getString(r.fieldIndex("v"))))).toSeq
    assert(got == Seq(
      (1L, 100L, Some("last150")),
      (2L, 150L, Some("last150")),
      (3L, 500L, None),
      (4L, 10L, None)), got.toString)
    val err = intercept[IllegalArgumentException] {
      AsofJoin.asofJoinForward(left.withColumn("ts", $"ts".cast("double")),
        right, Seq("k"), "ts")
    }
    assert(err.getMessage.contains("integer ts"))
  }
}
