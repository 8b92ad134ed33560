package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark process:
  * `Main <workload> <seed> <seconds> <trace 0|1> <workdir> <input dir>`.
  * Prints `@pb` records (see Out); run.py turns them into metrics. */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, work: String, gen: String)

  def main(argv: Array[String]): Unit = {
    val a = Args(argv(0), argv(1).toLong, argv(2).toDouble, argv(3) == "1",
      argv(4), argv(5))
    val t0 = System.nanoTime()
    // the oracle SQL goes out first, so run.py can check against it while
    // this JVM is still starting
    if (a.workload == "suite") Out.emit("oracles", "sql" -> Suite.oracles)
    val cpus = Runtime.getRuntime.availableProcessors()
    // the session settings graft.Bench uses, plus scratch space kept
    // inside the work directory
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Out.emit("host", "cpus" -> cpus, "jvm" -> System.getProperty("java.version"),
      "spark" -> spark.version,
      "session_s" -> (System.nanoTime() - t0) / 1e9)
    Out.mark("session")
    val trace = if (a.trace) Some(new Trace(spark)) else None
    val run = new Run(spark, a, trace)
    try a.workload match {
      case "suite" => Suite.run(run)
      case "h2o" => H2OWork.run(run)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    } finally {
      Out.emit("mem", "heap_peak_mb" -> heapPeakMb())
      spark.stop()
    }
  }

  def heapPeakMb(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1e6
  }
}

/** One op: name, family, the program call building its DataFrame, and
  * session settings that hold while it runs. An op with a `call` is
  * timed through that call (a request over a socket, returning its row
  * count) and traced through `build`, the same work done in process. */
final case class Op(name: String, fam: String, build: () => DataFrame,
                    conf: Map[String, String] = Map.empty,
                    call: Option[() => Long] = None)

/** The measurement protocol every workload shares: repeated setups, one
  * cold pass (the first call of each op), then round-robin warm reps
  * until the window closes (after at least [[MinReps]] full rounds). In a
  * traced run every other warm round is traced, so the same run also
  * yields the tracing overhead. */
final class Run(val spark: SparkSession, val args: Main.Args,
                val trace: Option[Trace]) {
  val MinReps = 3
  val Setups = 3

  /** Runs `setup` [[Setups]] times, recording each; returns the last. */
  def setups[T](setup: Int => T, teardown: T => Unit): T = {
    var last: Option[T] = None
    for (k <- 1 to Setups) {
      last.foreach(teardown)
      val t0 = System.nanoTime()
      val v = setup(k)
      Out.emit("setup", "s" -> (System.nanoTime() - t0) / 1e9, "rep" -> k)
      last = Some(v)
    }
    Out.mark("setup")
    last.get
  }

  /** Cold pass then warm reps over `ops`; checks each rep's row count
    * against the op's cold count. Returns the cold counts. */
  def measure(ops: Seq[Op]): Map[String, Long] = {
    val cold = ops.map(op => op.name -> once(op, "cold", 0, trace.isDefined))
      .toMap
    Out.mark("cold")
    val (bytes, files) = Run.sizeOf(Run.stores)
    Out.emit("stores", "bytes" -> bytes, "files" -> files)
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    val minRounds = if (trace.isDefined) 2 * MinReps else MinReps
    // the first minRounds rounds always complete; after them the window
    // closes between two ops, so the sample count follows the host's
    // speed smoothly
    var round = 0
    while (round < minRounds || elapsed < args.seconds) {
      round += 1
      val traced = trace.isDefined && round % 2 == 0
      trace.foreach(t => if (traced) t.attach() else t.detach())
      for (op <- ops if round <= minRounds || elapsed < args.seconds) {
        val n = once(op, "warm", round, traced)
        if (n != cold(op.name) && cold(op.name) >= 0)
          Out.emit("fail", "name" -> op.name, "round" -> round,
            "why" -> s"rows $n != cold rows ${cold(op.name)}")
      }
    }
    Out.emit("window", "s" -> elapsed, "rounds" -> round,
      "min_rounds" -> minRounds)
    Out.mark("warm")
    cold
  }

  private def once(op: Op, phase: String, round: Int, traced: Boolean): Long =
    withConf(op.conf)(onceIn(op, phase, round, traced))

  /** Runs `f` with the session settings `conf`, then restores them. */
  def withConf[T](conf: Map[String, String])(f: => T): T = {
    val saved = conf.keys.map(k => k -> spark.conf.getOption(k)).toMap
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def onceIn(op: Op, phase: String, round: Int,
                     traced: Boolean): Long =
    try {
      val (n, s, fields) =
        if (traced) {
          val (n, f) = trace.get.split(op.build())
          (n, f("wall").asInstanceOf[Double], f)
        } else {
          val (n, s) = Trace.timed(op.call.fold(op.build().count())(_()))
          (n, s, Map.empty[String, Any])
        }
      Out.emit("op", "phase" -> phase, "name" -> op.name, "fam" -> op.fam,
        "round" -> round, "s" -> s, "rows" -> n, "traced" -> traced,
        "ipc" -> op.call.isDefined)
      if (traced) Out.emit("trace", (Seq[(String, Any)]("phase" -> phase,
        "name" -> op.name, "fam" -> op.fam, "round" -> round) ++ fields): _*)
      n
    } catch {
      case e: Throwable =>
        Out.emit("fail", "name" -> op.name, "round" -> round,
          "why" -> Option(e.getMessage).getOrElse(e.toString).take(300))
        Out.emit("op", "phase" -> phase, "name" -> op.name, "fam" -> op.fam,
          "round" -> round, "s" -> -1.0, "rows" -> -1L, "traced" -> traced,
          "ipc" -> op.call.isDefined)
        -1L
    }
}

object Run {
  /** The program's stores, indexes and stream checkpoints: the
    * directories it keeps under `/tmp/graft_*`. In a benchmark run /tmp
    * is private to the JVM and lies inside the checkout (see run.py), so
    * everything there was written by this run. */
  def stores: Seq[java.io.File] =
    Option(new java.io.File("/tmp").listFiles).toSeq.flatten
      .filter(_.getName.startsWith("graft_"))

  /** (bytes, files) of the regular files under `roots`. */
  def sizeOf(roots: Seq[java.io.File]): (Long, Long) = {
    import scala.jdk.CollectionConverters._
    val files = roots.flatMap { r =>
      val w = java.nio.file.Files.walk(r.toPath)
      try w.iterator.asScala.filter(java.nio.file.Files.isRegularFile(_))
        .toList finally w.close()
    }
    files.map(java.nio.file.Files.size).sum -> files.size.toLong
  }
}
