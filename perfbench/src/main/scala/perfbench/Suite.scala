package perfbench

import graft.{SparkEntry, Tables}

/** `suite`: a fixed sample of the driver-contract queries
  * (`SparkEntry.queries`) on freshly generated sf0.001 tables (the
  * driver's smoke scale: the queries stay bound by driver-side build,
  * planning and small-job scheduling).
  *
  * Four more ops are Rayfall requests over the program's IPC server
  * (see [[Ipc]]), the one surface where per-request parse/eval and
  * `RaySerde` wire encoding dominate.
  *
  * Sixteen queries are stratified by family over the 218 queries that
  * keep no state under `/tmp/graft_*`: per family, in proportion to its
  * size (q 5, t 6, s 2, d 1, m 1, r 1), the queries at the middle of
  * equal slices of the family in name order. Two more are checkpointed
  * stream ingests (`Streams` over a `Store` splay under
  * `/tmp/graft_stream/<key>`, keyed on the run's own copy of the
  * tables): q21 a stateful tumbling-window aggregate, t27 a stateless
  * per-batch document clean. They give the cold pass its stream, store
  * and checkpoint writes; warm reps find the stores and replay nothing. */
object Suite {
  val Queries: Seq[String] = Seq(
    "d09_simhash64", "m07_audio_stats", "q08_euclid", "q27_facade_update",
    "q42_group_indices", "q60_range_frame", "q77_twap", "r05_rayfall_update",
    "s07_pq_adc", "s21_ivf_binary", "t07_pack_greedy", "t19_fuzzy_decontam",
    "t34_dsir_select", "t54_hll_windows", "t72_unigram_em", "t91_lzw_ratio",
    "q21_stream_tumbling", "t27_stream_span_clean")

  def run(r: Run): Unit = {
    val spark = r.spark
    val all = SparkEntry.queries
    val missing = Queries.filterNot(all.contains)
    require(missing.isEmpty, s"queries gone from SparkEntry: $missing")
    // each setup is a fresh copy of the generated tables (a new path, so
    // no memo entry of an earlier copy applies), opened through the
    // program's table loader, and an IPC server over it
    val (dir, ipc) = r.setups(k => {
      val d = copyDir(r.args.gen, s"${r.args.work}/suite/sf$k")
      Tables.all.foreach(t => Tables.load(spark, d, t))
      d -> new Ipc.Session(spark,
        Seq("orders", "lineitem").map(t => t -> Tables.load(spark, d, t)).toMap)
    }, (s: (String, Ipc.Session)) => s._2.close())
    Out.emit("input", "bytes" -> Run.sizeOf(Seq(new java.io.File(dir)))._1)
    val reqs = Ipc.requests(r.args.seed)
    val ops = Queries.map(q => Op(q, q.take(1), () => all(q)(spark, dir))) ++
      reqs.map(ipc.op)
    try {
      r.measure(ops)
      ipc.check(reqs, r.trace.isDefined)
    } finally ipc.close()
  }

  /** Copies the files of `src` into the fresh directory `dst`. */
  private def copyDir(src: String, dst: String): String = {
    val d = new java.io.File(dst); d.mkdirs()
    new java.io.File(src).listFiles().filter(_.isFile).foreach(f =>
      java.nio.file.Files.copy(f.toPath, new java.io.File(d, f.getName).toPath))
    dst
  }

  /** Each sampled query's DuckDB-dialect oracle SQL ("" when it has none). */
  def oracles: Map[String, String] =
    Queries.map(q => q -> SparkEntry.oracleSql.getOrElse(q, "")).toMap
}
