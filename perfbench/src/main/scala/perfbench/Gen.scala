package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded generators of the h2o join and window-join inputs. Every value
  * is a hash of (seed, salt, row id), so a seed gives the same tables on
  * any partitioning. (G1 is the program's own `graft.H2O.g1`; the suite's
  * parquet tables come from gen.py.) */
object Gen {
  /** Uniform double in [0, 1) from (seed, salt, id). */
  def u(seed: Long, salt: Int, id: Column = col("id")): Column =
    pmod(xxhash64(lit(seed), lit(salt), id), lit(1L << 40)).cast("double") /
      (1L << 40).toDouble

  /** Uniform integer in [lo, hi]. */
  def ui(seed: Long, salt: Int, lo: Long, hi: Long,
         id: Column = col("id")): Column =
    (floor(u(seed, salt, id) * (hi - lo + 1)) + lo).cast("long")

  /** H2O J1-style join side: row i of x matches row i of y on (id1, id2). */
  def j1(spark: SparkSession, n: Long, seed: Long, v: String): DataFrame =
    spark.range(n).select(
      ui(seed, 120, 0, n - 1).as("id1"),
      ui(seed, 121, 0, 99).as("id2"),
      col("id").as("id3"),
      concat(lit("id"), (col("id") % 1000).cast("string")).as("id4"),
      (ui(seed, 122, 0, 999999).cast("double") / 100).as(v))

  /** Window-join inputs (examples/wj.rfl at scale): `n` trades, 2n quotes. */
  def trades(spark: SparkSession, n: Long, seed: Long): DataFrame =
    spark.range(n).select(
      when(ui(seed, 130, 0, 99) === 99, "MSFT").otherwise("AAPL").as("Sym"),
      (lit(9L * 3600 * 1000) + expr("id * 3L div 10L")).as("Ts"),
      (col("id") + 10).as("Price"))

  def quotes(spark: SparkSession, n: Long, seed: Long): DataFrame =
    spark.range(2 * n).select(
      element_at(array(Seq("AAPL", "AAPL", "AAPL", "MSFT", "MSFT", "GOOG")
        .map(lit): _*), (ui(seed, 131, 0, 5) + 1).cast("int")).as("Sym"),
      (lit(9L * 3600 * 1000) + expr("id * 2L div 10L")).as("Ts"),
      (expr("id div 2L") + 8 + ui(seed, 132, 0, 3)).as("Bid"),
      (expr("id div 2L") + 12 + ui(seed, 133, 0, 3)).as("Ask"))
}
