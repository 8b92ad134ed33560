package graft

import org.apache.spark.sql.DataFrame
import graft.operators.GroupKernel
import graft.rayfall.Rayfall

/** The dictionary-encoded group-by kernel must be result- and
  * schema-identical to the Catalyst plan it replaces, for every H2O query
  * shape (the reference's `docs/content/get-started/benchmarks/group-by.md`),
  * on both its dense and its hashed (key product past `MaxDense`) branch,
  * and must fall back (not fail) on anything it doesn't cover. */
class GroupKernelSpec extends SparkSpec
    with org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {

  private lazy val t: DataFrame = {
    val df = H2O.g1(spark, 20000L).cache()
    df.count()
    df
  }
  // a twin DataFrame over the same rows that is NOT kernel-registered:
  // queries against it take the Catalyst path and serve as the oracle
  private lazy val plain: DataFrame = H2O.g1(spark, 20000L)

  private def registered: DataFrame = {
    if (!GroupKernel.has(t))
      GroupKernel.encode(t, Seq("id1", "id2", "id3", "id4", "id5", "id6"))
    t
  }

  private def both(q: String): (Array[Seq[Any]], Array[Seq[Any]]) = {
    def rows(df: DataFrame) = {
      val cols = df.columns
      df.orderBy(cols.map(org.apache.spark.sql.functions.col): _*)
        .collect().map(_.toSeq)
    }
    (rows(Rayfall.query(q, Map("t" -> registered))),
      rows(Rayfall.query(q, Map("t" -> plain))))
  }

  private def assertSame(q: String): Unit = {
    val kSchema = Rayfall.query(q, Map("t" -> registered)).schema
    val sSchema = Rayfall.query(q, Map("t" -> plain)).schema
    assert(kSchema == sSchema, s"schema for $q: $kSchema vs $sSchema")
    val (k, s) = both(q)
    assert(k.length == s.length, s"row count for $q")
    k.zip(s).foreach { case (a, b) =>
      a.zip(b).foreach {
        case (x: Double, y: Double) =>
          assert(math.abs(x - y) <= math.max(1e-9, math.abs(y) * 1e-12),
            s"double mismatch in $q: $x vs $y")
        case (x, y) => assert(x == y, s"mismatch in $q: $a vs $b")
      }
    }
  }

  test("Q1 sum by string key — kernel matches Catalyst") {
    assertSame("(select {v1: (sum v1) from: t by: id1})")
  }

  test("Q2 sum by two string keys") {
    assertSame("(select {v1: (sum v1) from: t by: {id1: id1 id2: id2}})")
  }

  test("Q3 sum + avg by high-card string key") {
    assertSame("(select {v1: (sum v1) v3: (avg v3) from: t by: id3})")
  }

  test("Q4 three avgs by int key") {
    assertSame("(select {v1: (avg v1) v2: (avg v2) v3: (avg v3) from: t by: id4})")
  }

  test("Q5 three sums (int + double) by high-card int key") {
    assertSame("(select {v1: (sum v1) v2: (sum v2) v3: (sum v3) from: t by: id6})")
  }

  test("Q6 agg arithmetic (- (max v1) (min v2)) — types and values") {
    val q = "(select {range_v1_v2: (- (max v1) (min v2)) from: t by: id3})"
    assertSame(q)
    val kdf = Rayfall.query(q, Map("t" -> registered))
    val sdf = Rayfall.query(q, Map("t" -> plain))
    assert(kdf.schema == sdf.schema, "kernel schema must match Catalyst schema")
  }

  test("count spellings: (count c) and (map count c)") {
    assertSame("(select {n: (map count v3) s: (sum v1) from: t by: id4})")
    assertSame("(select {n: (count v3) from: t by: id1})")
  }

  test("min/max keep the source integer type") {
    val q = "(select {lo: (min v1) hi: (max v2) from: t by: id5})"
    assertSame(q)
    val kdf = Rayfall.query(q, Map("t" -> registered))
    assert(kdf.schema("lo").dataType == org.apache.spark.sql.types.IntegerType)
  }

  // kernel results come back through an internal-rows scan (LogicalRDD);
  // the Catalyst fallback aggregates the cached relation directly
  private def usedKernel(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collect {
      case _: org.apache.spark.sql.execution.LogicalRDD => true
    }.nonEmpty

  test("take / unsupported aggs fall back to the Catalyst plan") {
    // med is not a kernel primitive — must still answer correctly
    assertSame("(select {v1: (med v1) from: t by: id1})")
    assert(!usedKernel(Rayfall.query(
      "(select {v1: (med v1) from: t by: id1})", Map("t" -> registered))))
  }

  test("simple where-predicates fuse into the dense pass and match " +
      "Catalyst on every leaf form") {
    val qs = Seq(
      "(select {v1: (sum v1) from: t where: (> v2 2) by: id1})",
      "(select {v3: (avg v3) from: t where: (<= v3 500000.0) by: id4})",
      "(select {n: (count v1) s: (sum v3) from: t where: (= id1 \"id042\") by: id2})",
      "(select {v1: (sum v1) from: t where: (< id1 \"id050\") by: id4})",
      "(select {v1: (sum v1) from: t where: (in id4 [1 2 3]) by: id1})",
      "(select {v1: (sum v1) from: t where: (in id1 [\"id001\" \"id002\"]) by: id4})",
      "(select {v2: (sum v2) from: t where: (within v1 [2 4]) by: id5})",
      // literal-first comparison flips; nested and/or/not combine masks
      "(select {v1: (sum v1) from: t where: (> 3 v1) by: id1})",
      "(select {v1: (sum v1) from: t where: " +
        "(and (> v1 2) (or (= id2 \"id001\") (not (in id4 [5])))) by: id1})")
    qs.foreach { q =>
      assertSame(q)
      assert(usedKernel(Rayfall.query(q, Map("t" -> registered))),
        s"expected the kernel route for $q")
    }
  }

  test("predicates the kernel can't compile (like, column-vs-column, " +
      "unencoded columns) fall back to Catalyst and stay correct") {
    val qs = Seq(
      "(select {v1: (sum v1) from: t where: (like id1 \"id00*\") by: id4})",
      "(select {v1: (sum v1) from: t where: (> v1 v2) by: id1})")
    qs.foreach { q =>
      assertSame(q)
      assert(!usedKernel(Rayfall.query(q, Map("t" -> registered))),
        s"expected the Catalyst route for $q")
    }
  }

  test("where-fused kernel keeps filtered-out groups absent (not " +
      "zero-count rows), like Catalyst") {
    val (k, s) = both("(select {v1: (sum v1) from: t " +
      "where: (= id1 \"id042\") by: id1})")
    assert(k.length == 1 && k.sameElements(s))
  }

  private val sixKeys = Seq("id1", "id2", "id3", "id4", "id5", "id6")

  // past MaxDense the kernel maps composite codes to hashed slots
  test("Q7 six-key product past MaxDense runs in the kernel and matches Catalyst") {
    val q = H2O.queries.toMap.apply("Q7")
    assert(q == "(select {v3: (sum v3) count: (map count v3) from: t " +
      "by: {id1: id1 id2: id2 id3: id3 id4: id4 id5: id5 id6: id6}})")
    assertSame(q)
    val kdf = Rayfall.query(q, Map("t" -> registered))
    assert(usedKernel(kdf))
    assert(collect(kdf.queryExecution.executedPlan) {
      case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a
    }.isEmpty, "Q7 must not plan a hash aggregate")
    assert(GroupKernel.tryRun(registered, sixKeys,
      Seq("sum" -> "v3", "count" -> "v3"), identity).isDefined)
    assert(kdf.count() > GroupKernel.MaxDense / 100) // ~one group per row
  }

  test("hashed branch: where-clause with min/max over int columns and avg") {
    // 100 × 200 × 200 = 4e6 key cells > MaxDense
    val q = "(select {lo: (min v1) hi: (max v2) a: (avg v3) n: (count v1) " +
      "from: t where: (> v3 20.0) by: {id1: id1 id3: id3 id6: id6}})"
    assertSame(q)
    val kdf = Rayfall.query(q, Map("t" -> registered))
    assert(usedKernel(kdf), s"expected the kernel route for $q")
    assert(kdf.schema("lo").dataType == org.apache.spark.sql.types.IntegerType)
  }

  test("hashed branch: groups spanning partitions merge like Catalyst") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // 1100 × 1000 key cells > MaxDense, but only 11000 groups of 5-6 rows
    // each, spread over 8 partitions: every group meets in the merge
    val df = spark.range(0L, 60000L, 1L, 8).select(($"id" % 1100).as("k1"),
      ($"id" % 1000).cast("int").as("k2"), ($"id" % 7).as("v"),
      (($"id" * 13) % 101).cast("double").as("d")).cache()
    df.count()
    val q = "(select {s: (sum v) lo: (min v) hi: (max d) a: (avg d) " +
      "n: (count v) from: t by: {k1: k1 k2: k2}})"
    def rows(d: DataFrame) = d.orderBy("k1", "k2").collect().map(_.toSeq).toSeq
    val plainRows = rows(Rayfall.query(q, Map("t" -> df)))
    GroupKernel.encode(df, Seq("k1", "k2"))
    val kdf = Rayfall.query(q, Map("t" -> df))
    assert(usedKernel(kdf))
    assert(rows(kdf) == plainRows && plainRows.size == 11000)
    GroupKernel.unregister(df)
    df.unpersist()
  }

  test("hashed branch: BIGINT sum overflow raises, not a silent wraparound") {
    import spark.implicits._
    // 1100 × 1000 key cells > MaxDense; group (0, 0) holds MaxValue and 1
    val df = (spark.range(1100L).select($"id".as("k1"), ($"id" % 1000).as("k2"),
      org.apache.spark.sql.functions.when($"id" === 0, Long.MaxValue)
        .otherwise(1L).as("v")) union Seq((0L, 0L, 1L)).toDF("k1", "k2", "v"))
      .cache()
    df.count()
    GroupKernel.encode(df, Seq("k1", "k2"))
    val q = "(select {s: (sum v) from: t by: {k1: k1 k2: k2}})"
    assert(usedKernel(Rayfall.query(q, Map("t" -> df))))
    val ex = intercept[Exception](Rayfall.query(q, Map("t" -> df)).collect())
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(_.toLowerCase.contains("overflow")),
      s"expected an overflow error, got: $ex")
    GroupKernel.unregister(df)
    df.unpersist()
  }

  test("a key product past a Long falls back to Catalyst and stays correct") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // seven keys of 1000 values each: 1e21 key cells > Long.MaxValue
    val ks = (1 to 7).map(j => s"k$j")
    val df = spark.range(3000L).select(ks.zipWithIndex.map { case (k, j) =>
      pmod($"id" * lit(Seq(3, 7, 11, 13, 17, 19, 23)(j)), lit(1000)).as(k)
    } :+ ($"id" % 5).as("v"): _*).cache()
    df.count()
    val q = "(select {s: (sum v) n: (count v) from: t by: {" +
      ks.map(k => s"$k: $k").mkString(" ") + "}})"
    def rows(d: DataFrame) = d.orderBy(ks.map(col): _*).collect().map(_.toSeq).toSeq
    val plainRows = rows(Rayfall.query(q, Map("t" -> df)))
    GroupKernel.encode(df, ks)
    assert(GroupKernel.tryRun(df, ks, Seq("sum" -> "v"), identity).isEmpty)
    val kdf = Rayfall.query(q, Map("t" -> df))
    assert(!usedKernel(kdf))
    assert(rows(kdf) == plainRows && plainRows.size == 1000)
    GroupKernel.unregister(df)
    df.unpersist()
  }

  test("large key product (≥ 2^14) takes the multi-block local-combine " +
      "path and still matches Catalyst") {
    import org.apache.spark.sql.functions._
    // 20k distinct keys over 60k rows forces the coalesced several-
    // blocks-per-task accumulation (the H2O Q3/Q5/Q6 shape)
    val df = spark.range(60000L).select(
      concat(lit("id"), pmod(hash($"id" * 3 + 1), lit(20000)).cast("string"))
        .as("k"),
      pmod(hash($"id" * 5 + 2), lit(7)).cast("int").as("v")).cache()
    df.count()
    GroupKernel.encode(df, Seq("k"))
    val q = "(select {s: (sum v) n: (count v) from: t by: k})"
    val kernel = Rayfall.query(q, Map("t" -> df)).orderBy("k")
      .collect().map(_.toSeq).toSeq
    GroupKernel.unregister(df)
    val plain = Rayfall.query(q, Map("t" -> df)).orderBy("k")
      .collect().map(_.toSeq).toSeq
    assert(kernel == plain && kernel.size > 15000)
    df.unpersist()
  }

  test("null-bearing key columns are skipped at encode — group-bys on " +
      "them fall back to Catalyst and stay correct") {
    import spark.implicits._
    val df = Seq((Some("a"), 1L), (None, 2L), (Some("b"), 3L),
      (Some("a"), 4L)).toDF("k", "v").cache()
    df.count()
    GroupKernel.encode(df, Seq("k")) // k has a null → no dict for k
    val got = Rayfall.query("(select {s: (sum v) from: t by: k})",
      Map("t" -> df)).orderBy("k").collect()
      .map(r => (Option(r.getString(0)), r.getLong(1))).toSeq
    assert(got == Seq((None, 2L), (Some("a"), 5L), (Some("b"), 3L)))
    GroupKernel.unregister(df)
    df.unpersist()
  }

  test("null-bearing VALUE columns disqualify themselves at encode — " +
      "aggregates on them fall back to Catalyst null-skip semantics") {
    import spark.implicits._
    val df = Seq(("a", Some(1L), 1.5), ("a", None, 2.5), ("b", None, 3.5))
      .toDF("k", "v", "w").cache()
    df.count()
    GroupKernel.encode(df, Seq("k"))
    // v has nulls → the kernel must NOT answer sum over it (the dense
    // pass would read 0s); Catalyst null-skips: sum of an all-null group
    // is null. count keeps LENGTH semantics (rows) on both paths.
    val got = Rayfall.query(
      "(select {s: (sum v) n: (count v) from: t by: k})", Map("t" -> df))
      .orderBy("k").collect().map(r => (r.getString(0),
        if (r.isNullAt(1)) null else r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq(("a", 1L, 2L), ("b", null, 1L)))
    // w is null-free → the kernel still answers over the same table
    val w = Rayfall.query("(select {s: (sum w) from: t by: k})",
      Map("t" -> df)).orderBy("k").collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(w == Seq(("a", 4.0), ("b", 3.5)))
    GroupKernel.unregister(df)
    df.unpersist()
  }

  test("BIGINT sum overflow raises (ANSI parity with the Catalyst plan), " +
      "not a silent wraparound") {
    import spark.implicits._
    val df = Seq(("a", Long.MaxValue), ("a", 1L)).toDF("k", "v").cache()
    df.count()
    GroupKernel.encode(df, Seq("k"))
    val ex = intercept[Exception] {
      Rayfall.query("(select {s: (sum v) from: t by: k})", Map("t" -> df))
        .collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(_.toLowerCase.contains("overflow")),
      s"expected an overflow error, got: $ex")
    GroupKernel.unregister(df)
    df.unpersist()
  }

  test("non-grouped select on a registered table is untouched") {
    val df = Rayfall.query("(select {v1: v1 id1: id1 from: t take: 5})",
      Map("t" -> registered))
    assert(df.count() == 5L)
  }
}
