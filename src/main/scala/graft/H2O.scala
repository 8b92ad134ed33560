package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The reference's headline benchmark, run VERBATIM: the seven H2O
  * db-benchmark group-by queries exactly as published in its docs
  * (`/root/reference/docs/docs/content/get-started/benchmarks/group-by.md:54-60`),
  * evaluated through the Rayfall front-end against a G1-style table.
  *
  *   SPARK_GRAFT_H2O_N=10000000 sbt "runMain graft.H2O"
  *
  * The table is generated deterministically (hash-based uniform ids, the
  * G1_1e7_1e2 shape: 100 groups for id1/id2/id4/id5, n/100 for id3/id6,
  * v1/v2 in 1..5, v3 double) and cached before timing, matching the
  * reference's in-memory setup.
  */
object H2O {
  val queries: Seq[(String, String)] = Seq(
    "Q1" -> "(select {v1: (sum v1) from: t by: id1})",
    "Q2" -> "(select {v1: (sum v1) from: t by: {id1: id1 id2: id2}})",
    "Q3" -> "(select {v1: (sum v1) v3: (avg v3) from: t by: id3})",
    "Q4" -> "(select {v1: (avg v1) v2: (avg v2) v3: (avg v3) from: t by: id4})",
    "Q5" -> "(select {v1: (sum v1) v2: (sum v2) v3: (sum v3) from: t by: id6})",
    "Q6" -> "(select {range_v1_v2: (- (max v1) (min v2)) from: t by: id3})",
    "Q7" -> ("(select {v3: (sum v3) count: (map count v3) from: t " +
      "by: {id1: id1 id2: id2 id3: id3 id4: id4 id5: id5 id6: id6}})"))

  /** Deterministic G1-style table (no RNG: hashes of the row id). */
  def g1(spark: SparkSession, n: Long): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val big = math.max(n / 100, 1L)
    def h(salt: Int, m: Long) =
      pmod(hash($"id" * lit(salt + 7) + lit(salt)), lit(m)) + 1
    spark.range(n).select(
      concat(lit("id"), lpad(h(1, 100).cast("string"), 3, "0")).as("id1"),
      concat(lit("id"), lpad(h(2, 100).cast("string"), 3, "0")).as("id2"),
      concat(lit("id"), h(3, big).cast("string")).as("id3"),
      h(4, 100).cast("int").as("id4"),
      h(5, 100).cast("int").as("id5"),
      h(6, big).cast("int").as("id6"),
      h(7, 5).cast("int").as("v1"),
      h(8, 5).cast("int").as("v2"),
      (h(9, 100000000).cast("double") / 1e6).as("v3"))
  }

  def main(args: Array[String]): Unit = {
    val n = sys.env.getOrElse("SPARK_GRAFT_H2O_N", "1000000").toLong
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val sections = sys.env.getOrElse("SPARK_GRAFT_H2O_SECTIONS", "groupby,join,wj")
      .split(",").toSet
    val reps = sys.env.getOrElse("SPARK_GRAFT_H2O_REPS", "3").toInt
    val shufP = sys.env.getOrElse("SPARK_GRAFT_H2O_SHUFFLE", cpus)
    // AQE's per-shuffle stage materialization + re-planning is pure fixed
    // overhead on sub-second in-memory inputs (the group-by family) — off
    // by default here; the join/wj sections re-enable it (skew handling).
    val aqeGroupBy = sys.env.getOrElse("SPARK_GRAFT_H2O_AQE", "false")
    // per-run artifact (h2o_last.json): every timed query + the env it
    // ran under, so cross-session variance (JIT/page-cache state) is
    // auditable instead of a README claim
    val results = scala.collection.mutable.LinkedHashMap[String, Double]()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shufP)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      // first-level partial-agg hash map: vectorized (columnar) layout
      .config("spark.sql.codegen.aggregate.map.vectorized.enable", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // ad-hoc conf sweeps (e.g. the Q7 fastHashMap probe):
    //   SPARK_GRAFT_H2O_CONF="spark.sql.codegen.aggregate.fastHashMap.capacityBit=20"
    sys.env.get("SPARK_GRAFT_H2O_CONF").foreach(_.split(";").filter(_.nonEmpty)
      .foreach { kv =>
        val Array(k, v) = kv.split("=", 2); spark.conf.set(k, v)
      })
    // group-by table cached raw (no dictionary/RLE decode on every scan —
    // the reference holds it as native columns too); scoped to this cache
    // only, the big join/wj tables stay compressed
    spark.conf.set("spark.sql.inMemoryColumnarStorage.compressed", "false")
    spark.conf.set("spark.sql.inMemoryColumnarStorage.batchSize", "65536")
    val t = g1(spark, n).cache()
    t.count() // materialize before timing, like the reference's CSV load
    spark.conf.set("spark.sql.inMemoryColumnarStorage.compressed", "true")
    spark.conf.set("spark.sql.inMemoryColumnarStorage.batchSize", "10000")
    // typed-load analog of the reference's `(csv [SYMBOL …] path)`: intern
    // the group keys into global dictionaries once (operators.GroupKernel);
    // Q1-Q7 then run the columnar kernel (Q7's 6-key product through its
    // hashed slot map).
    if (sys.env.getOrElse("SPARK_GRAFT_H2O_KERNEL", "true") == "true") {
      val te = System.nanoTime()
      operators.GroupKernel.encode(t, Seq("id1", "id2", "id3", "id4", "id5", "id6"))
      println(f"[h2o] kernel-encode ${(System.nanoTime() - te) / 1e6}%.0f ms")
    }
    val times = if (!sections("groupby")) Seq.empty else {
      spark.conf.set("spark.sql.adaptive.enabled", aqeGroupBy)
      // only with SPARK_GRAFT_H2O_KERNEL=false does this section run a
      // Catalyst aggregation; there Q7 (~n distinct 6-key groups) MISSES
      // the 64k first-level fast hash map on every probe before falling
      // to the real map — pure overhead at high cardinality. Disabling
      // the two-level map halves that Q7 (2.5 s → 1.24 s); raising
      // capacityBit instead (20) was 5× WORSE (32 tasks × 1M-slot
      // columnar maps → 9.6 s of GC). With the kernel on, Q1-Q7 never
      // touch this path; restored after the section for the sf0.1 mix.
      spark.conf.set("spark.sql.codegen.aggregate.map.twolevel.enabled", "false")
      val debugReps = sys.env.contains("SPARK_GRAFT_H2O_DEBUG")
      // steady-state warm-up: the kernel's hot loops (dense accumulate +
      // chunked range merge) take a handful of executions before C2
      // compiles them, and the code paths are SHARED across Q1-Q6 — so
      // three rounds of one small-key-product and one large-key-product
      // shape warm every timed query at once (measured: without this the
      // first kernel query's early reps ran 2-4× its steady state)
      for (_ <- 1 to 3; q <- Seq(queries.head._2, queries(2)._2))
        rayfall.Rayfall.query(q, Map("t" -> t)).count()
      def gcMs: Long = {
        import scala.jdk.CollectionConverters._
        java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
          .asScala.map(_.getCollectionTime).sum
      }
      val r = queries.map { case (name, q) =>
        rayfall.Rayfall.query(q, Map("t" -> t)).count() // warm codegen
        val ts = (1 to reps).map { _ =>
          val g0 = gcMs
          val t0 = System.nanoTime()
          rayfall.Rayfall.query(q, Map("t" -> t)).count()
          ((System.nanoTime() - t0) / 1e6, gcMs - g0)
        }
        if (debugReps) println(
          s"[h2o] $name reps " +
            ts.map { case (v, g) => f"$v%.0f(gc$g)" }.mkString(" "))
        val best = ts.map(_._1).min
        val rows = rayfall.Rayfall.query(q, Map("t" -> t)).count()
        println(f"[h2o] $name ${best}%.1f ms ($rows groups)")
        results(name) = best
        name -> best
      }
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.set("spark.sql.codegen.aggregate.map.twolevel.enabled", "true")
      r
    }
    // release the group-by table + kernel blocks before the join section —
    // the uncompressed caches otherwise crowd the join builds out of
    // storage memory (measured: ij 1.5 s → 3.8 s when left cached)
    operators.GroupKernel.unregister(t)
    t.unpersist(blocking = true)
    val qs = times.map { case (k, v) => "\"" + k + "\":" + f"$v%.1f" }
      .mkString("{", ",", "}")
    println(s"""{"metric":"h2o_groupby_ms","n":$n,"queries":$qs}""")

    // ---- the join benchmark surface (inner-join.md Q2: `(ij [id1 id2] x y)`,
    // J1_1e7 ⋈ J1_1e7_1e7 where DuckDB/ClickHouse OOM'd). Deterministic
    // J1-style tables: row i of x matches row i of y on (id1, id2).
    import spark.implicits._
    if (sections("join")) {
    def j1(v: String) = spark.range(n).select(
      pmod(hash($"id" * 11 + 3), lit(n)).as("id1"),
      pmod(hash($"id" * 13 + 5), lit(100)).as("id2"),
      $"id".as("id3"),
      concat(lit("id"), ($"id" % 1000).cast("string")).as("id4"),
      (pmod(hash($"id" * 17 + 7), lit(1000000)).cast("double") / 100).as(v))
    val x = j1("v1").cache(); x.count()
    val y = j1("v2").cache(); y.count()
    for ((name, q) <- Seq("ij" -> "(ij [id1 id2] x y)",
      "lj" -> "(lj [id1 id2] x y)")) {
      // best-of-reps like the group-bys: the round-11 "uniform 20% slip
      // on exactly the single-timed sections" read as host noise —
      // single runs can't tell a regression from a neighbor burst
      rayfall.Rayfall.query(q, Map("x" -> x, "y" -> y)).count()
      val ts = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        val rows = rayfall.Rayfall.query(q, Map("x" -> x, "y" -> y)).count()
        ((System.nanoTime() - t0) / 1e6, rows)
      }
      val best = ts.map(_._1).min
      results(name) = best
      println(f"[h2o] $name $best%.1f ms (${ts.head._2} rows; reps " +
        ts.map(t => f"${t._1}%.0f").mkString(",") + ")")
    }
    x.unpersist(); y.unpersist()
    }

    if (sections("wj")) {
    // ---- the window-join benchmark (window-join.md, examples/wj.rfl
    // data at scale: n trades ⋈ 2n quotes, ±1000 ms, min Bid / max Ask;
    // reference: 59,145 ms at n=1e7, kdb ~33 min). The ±1000 ms window
    // holds ~10k quotes (~1e11 pairs at 1e7) — the materializing range
    // join is infeasible, so this runs the sliding two-pointer operator
    // (the reference's own aggr_map_window algorithm, distributed).
    val wn = sys.env.getOrElse("SPARK_GRAFT_H2O_WJ_N", n.toString).toLong
    val trades = spark.range(wn).select(
      when($"id" % 100 === 99, "MSFT").otherwise("AAPL").as("Sym"),
      (lit(9L * 3600 * 1000) + expr("id * 3L div 10L")).as("Ts"),
      ($"id" + 10).as("Price")).cache()
    val quotes = spark.range(2 * wn).select(
      element_at(array(lit("AAPL"), lit("AAPL"), lit("AAPL"),
        lit("MSFT"), lit("MSFT"), lit("GOOG")), ($"id" % 6 + 1).cast("int")).as("Sym"),
      (lit(9L * 3600 * 1000) + expr("id * 2L div 10L")).as("Ts"),
      (expr("id div 2L") + 8).as("Bid"),
      (expr("id div 2L") + 12).as("Ask")).cache()
    trades.count(); quotes.count()
    val wjAggs = Seq(operators.WindowJoin.Agg("min", "Bid", "bid"),
      operators.WindowJoin.Agg("max", "Ask", "ask"))
    // best-of-reps (first rep doubles as the JIT/cache warm run)
    val wjTs = (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      val rows = operators.WindowJoin.windowJoinSliding(
        trades, quotes, Seq("Sym"), "Ts", -1000L, 1000L, wjAggs).count()
      ((System.nanoTime() - t0) / 1e6, rows)
    }
    val wjBest = wjTs.map(_._1).min
    results("wj1") = wjBest
    println(f"[h2o] wj1 $wjBest%.1f ms (${wjTs.head._2} rows, n=$wn; " +
      "reps " + wjTs.map(t => f"${t._1}%.0f").mkString(",") + ")")
    }
    val qJson = results.map { case (k, v) => "\"" + k + "\":" + f"$v%.1f" }
      .mkString("{", ",", "}")
    val json =
      s"""{"metric":"h2o_ms","n":$n,"cpus":$cpus,"reps":$reps,""" +
      s""""shuffle":$shufP,"sections":"${sections.toSeq.sorted.mkString("+")}",""" +
      s""""jvm":"${System.getProperty("java.version")}",""" +
      s""""timing":"best-of-$reps per group-by after shared JIT warm-up; """ +
      s"""joins best-of-$reps after one warm run; wj best-of-$reps",""" +
      s""""queries":$qJson}"""
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("h2o_last.json"), json)
    println(s"[h2o] wrote h2o_last.json")
    spark.stop()
  }
}
