package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.H2O
import graft.operators.{GroupKernel, WindowJoin}
import graft.rayfall.Rayfall

/** `h2o`: the reference's published surface, the way `graft.H2O` runs it.
  * The seven group-bys run through `Rayfall.query` on a cached,
  * kernel-encoded G1 table (Q1-Q6 take the dense `GroupKernel` path, Q7
  * the Catalyst hash aggregate); the J1 inner and left joins through
  * Rayfall `ij`/`lj`; wj1 through `WindowJoin.windowJoinSliding`. Each
  * section runs under the session settings `graft.H2O` gives it. */
object H2OWork {
  val N = 500000L        // G1 rows
  val JoinN = 500000L    // rows of each J1 side
  val WjTrades = 250000L // wj1 trades (quotes are twice as many)
  val Keys = Seq("id1", "id2", "id3", "id4", "id5", "id6")

  final case class Inputs(g1: DataFrame, x: DataFrame, y: DataFrame,
                          trades: DataFrame, quotes: DataFrame)

  /** Builds and caches every input: G1 raw, the others compressed, as
    * `graft.H2O` caches them. */
  private def generate(r: Run): Inputs = {
    val spark = r.spark
    val seed = r.args.seed
    val t0 = System.nanoTime()
    spark.conf.set("spark.sql.inMemoryColumnarStorage.compressed", "false")
    spark.conf.set("spark.sql.inMemoryColumnarStorage.batchSize", "65536")
    val g1 = H2O.g1(spark, N).cache()
    g1.count()
    spark.conf.set("spark.sql.inMemoryColumnarStorage.compressed", "true")
    spark.conf.set("spark.sql.inMemoryColumnarStorage.batchSize", "10000")
    val x = Gen.j1(spark, JoinN, seed, "v1").cache()
    val y = Gen.j1(spark, JoinN, seed, "v2").cache()
    val trades = Gen.trades(spark, WjTrades, seed).cache()
    val quotes = Gen.quotes(spark, WjTrades, seed).cache()
    Seq(x, y, trades, quotes).foreach(_.count())
    Out.mark("generated")
    Out.emit("input", "gen_s" -> (System.nanoTime() - t0) / 1e9,
      "rows" -> Map("g1" -> N, "x" -> JoinN, "y" -> JoinN,
        "trades" -> WjTrades, "quotes" -> 2 * WjTrades))
    Inputs(g1, x, y, trades, quotes)
  }

  def run(r: Run): Unit = {
    r.spark.conf.set("spark.sql.codegen.aggregate.map.vectorized.enable", "true")
    val in = generate(r)
    // the setup is the program's own: interning G1's group keys into
    // the dense kernel's dictionaries (the typed-load analog)
    r.setups(_ => GroupKernel.encode(in.g1, Keys),
      (_: Unit) => GroupKernel.unregister(in.g1))
    val groupConf = Map("spark.sql.adaptive.enabled" -> "false",
      "spark.sql.codegen.aggregate.map.twolevel.enabled" -> "false")
    val joinConf = Map("spark.sql.join.preferSortMergeJoin" -> "false")
    val aggs = Seq(WindowJoin.Agg("min", "Bid", "bid"),
      WindowJoin.Agg("max", "Ask", "ask"))
    val ops = H2O.queries.map { case (name, q) =>
      Op(name, "groupby", () => Rayfall.query(q, Map("t" -> in.g1)), groupConf)
    } ++ Seq("ij" -> "(ij [id1 id2] x y)", "lj" -> "(lj [id1 id2] x y)").map {
      case (name, q) => Op(name, "join",
        () => Rayfall.query(q, Map("x" -> in.x, "y" -> in.y)), joinConf)
    } :+ Op("wj1", "wj", () => WindowJoin.windowJoinSliding(in.trades,
      in.quotes, Seq("Sym"), "Ts", -1000L, 1000L, aggs))
    val cold = r.measure(ops)
    check(in, cold)
  }

  /** Each op's cold row count against an independent Catalyst count of
    * the same answer (group counts for Q1-Q7, join rows for ij/lj, one
    * row per trade for wj1). */
  private def check(in: Inputs, cold: Map[String, Long]): Unit = {
    val d = in.g1.agg(countDistinct("id1"), countDistinct("id1", "id2"),
      countDistinct("id3"), countDistinct("id4"), countDistinct("id6"),
      countDistinct(Keys.head, Keys.tail: _*)).collect()(0)
    def join(how: String) = in.x.join(in.y, Seq("id1", "id2"), how).count()
    val want = Map("Q1" -> d.getLong(0), "Q2" -> d.getLong(1),
      "Q3" -> d.getLong(2), "Q4" -> d.getLong(3), "Q5" -> d.getLong(4),
      "Q6" -> d.getLong(2), "Q7" -> d.getLong(5), "ij" -> join("inner"),
      "lj" -> join("left"), "wj1" -> WjTrades)
    for ((name, got) <- cold) Out.emit("check", "name" -> name,
      "rows" -> got, "ok" -> (got == want(name)),
      "why" -> (if (got == want(name)) "" else s"rows $got != ${want(name)}"))
  }
}
