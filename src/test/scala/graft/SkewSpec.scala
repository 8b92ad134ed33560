package graft.operators

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import graft.SparkSpec
import graft.plans.{SlidingAgg, WindowMerge}

/** Hot-key skew contract of the sliding window join (reference
  * `aggr_map_window`, `/root/reference/core/aggr.c:331-373`): a single
  * key's ENTIRE left side flows through one task, so the kernel must
  * stream it — buffering the left group (the round-2/3 `lIt.toArray`)
  * OOMs a task on a 100-TB hot key. Only the right side may buffer
  * (the deques need indexed lookback; that is the algorithm's contract,
  * same as the reference's per-key right arrays). */
class SkewSpec extends SparkSpec {
  import spark.implicits._

  test("sliding kernel consumes the left iterator lazily (streams, no toArray)") {
    val n = 1000000
    var pulled = 0
    val key = UTF8String.fromString("k")
    val ls: Iterator[InternalRow] = new Iterator[InternalRow] {
      var i = 0
      def hasNext: Boolean = i < n
      def next(): InternalRow = { pulled += 1; i += 1; InternalRow(i.toLong - 1, key) }
    }
    val rs = Iterator.tabulate(1000)(i => InternalRow(key, i.toLong * 10))
    val lTs = AttributeReference("ts", LongType)()
    val lK = AttributeReference("k", StringType)()
    val rK = AttributeReference("k", StringType)()
    val rTs = AttributeReference("ts", LongType)()
    val merge = WindowMerge(Seq(lTs, lK), Seq(rK, rTs), Seq(lK), Seq(rK),
      lTs, rTs, values = Nil, aggs = Seq(SlidingAgg("count", -1)),
      aggOutput = Seq(AttributeReference("cnt", LongType)()),
      lo = -100L, hi = 0L, jtype = 1)
    val out = merge(ls, rs)
    // consume ONE output row: a streaming kernel pulls exactly one left
    // row; a materializing kernel would have pulled all 1e6 first
    val first = out.next()
    assert(pulled == 1, s"kernel materialized the left side: pulled=$pulled")
    assert(first.getLong(2) == 1L) // ts=0, window [-100,0] holds right ts=0
    // and the rest still aggregates correctly
    var rows = 1L
    while (out.hasNext) { out.next(); rows += 1 }
    assert(rows == n)
    assert(pulled == n)
  }

  test("single-key 1e6 skewed window join end-to-end matches the analytic oracle") {
    // one hot key: every left row lands in ONE cogroup task. Right ts are
    // multiples of 10 with value = ts, window [ts-100, ts] inclusive, so
    // for left ts=i: hi = i div 10, lo = max(0, ceil((i-100)/10)),
    // cnt = hi-lo+1, sum = 10*(hi+lo)*(hi-lo+1)/2 — checkable per-row in
    // Spark with zero driver collect.
    val n = 1000000L
    val l = spark.range(n).select(lit("k").as("k"), $"id".as("ts"))
    val r = spark.range(n / 10).select(lit("k").as("k"),
      ($"id" * 10L).as("ts"), ($"id" * 10L).as("v"))
    val got = WindowJoin.windowJoinSliding(l, r, Seq("k"), "ts", -100L, 0L,
      Seq(WindowJoin.Agg("count", "v", "cnt"), WindowJoin.Agg("sum", "v", "s")))
    val bad = got
      .withColumn("hi", expr("ts div 10"))
      .withColumn("lo", expr("CASE WHEN ts < 100 THEN 0L ELSE (ts - 91) div 10 END"))
      .withColumn("ecnt", $"hi" - $"lo" + 1L)
      .withColumn("es", expr("10 * (hi + lo) * (hi - lo + 1) div 2"))
      .filter($"cnt" =!= $"ecnt" || $"s" =!= $"es")
      .count()
    assert(bad == 0L)
    assert(got.count() == n)
  }
}
