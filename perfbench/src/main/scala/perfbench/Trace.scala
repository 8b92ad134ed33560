package perfbench

import scala.collection.mutable
import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent

/** Per-op layer split, collected from outside the program: Spark's
  * public listener events plus the phases of the op's own
  * QueryExecution.
  *
  *  - build: the program call that returns the DataFrame (driver-side
  *    algorithms, memo lookups, eager collects);
  *  - analyze / optimize / physical: the Catalyst phases of the count
  *    plan, forced one at a time;
  *  - exec: running the planned count.
  *
  * Jobs are attributed to build or exec through a local property set on
  * the calling thread, which Spark copies into every job it starts.
  * Streaming progress (the `StreamingQueryListener` events, which every
  * session posts to the same listener bus) goes to the op running when
  * it arrives. The listener is attached from construction; [[detach]]
  * takes it off the bus, so untraced reps run without it. */
final class Trace(spark: SparkSession) extends SparkListener {
  import Trace._
  private val sc = spark.sparkContext
  private var attached = false
  attach()

  def attach(): Unit = if (!attached) { sc.addSparkListener(this); attached = true }

  def detach(): Unit = if (attached) { sc.removeSparkListener(this); attached = false }

  private var cur: Acc = null
  private val stagePhase = mutable.Map[Int, String]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tag = Option(e.properties).map(_.getProperty(PhaseKey)).orNull
    if (cur != null && tag != null && tag.startsWith(cur.id + ":")) {
      val ph = tag.stripPrefix(cur.id + ":")
      if (ph == "build") cur.buildJobs += 1 else cur.execJobs += 1
      e.stageIds.foreach(s => stagePhase(s) = cur.id)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
    val si = e.stageInfo
    if (cur != null && stagePhase.get(si.stageId).contains(cur.id) &&
        si.submissionTime.isDefined) {
      cur.stages += 1
      cur.intervals += ((si.submissionTime.get - cur.t0Ms) / 1e3 ->
        (si.completionTime.getOrElse(System.currentTimeMillis()) -
          cur.t0Ms) / 1e3)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (cur != null && stagePhase.get(e.stageId).contains(cur.id)) {
      cur.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        cur.taskS += m.executorRunTime / 1e3
        cur.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        cur.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        cur.spill += m.diskBytesSpilled
        cur.input += m.inputMetrics.bytesRead
        cur.result += m.resultSize
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case p: QueryProgressEvent => synchronized {
      val g = p.progress
      val ms = g.durationMs
      def s(k: String) = Option(ms.get(k)).fold(0.0)(_.longValue / 1e3)
      if (cur != null) {
        cur.triggerS += s("triggerExecution")
        cur.commitS += s("walCommit") + s("commitOffsets")
        // a trigger that ran a micro-batch (idle triggers have no addBatch)
        if (ms.containsKey("addBatch")) {
          cur.batches += 1
          cur.inputRows += g.numInputRows
          cur.stateRows(g.runId) = g.stateOperators.map(_.numRowsTotal).sum
        }
      }
    }
    case _ =>
  }

  private var seq = 0L

  /** Runs `build` then counts its result with the layers split apart;
    * returns the row count and the op's record fields. */
  def split(build: => DataFrame): (Long, Map[String, Any]) = {
    PerfbenchBus.drain(sc)
    val acc = synchronized {
      seq += 1; cur = new Acc(s"op$seq", System.currentTimeMillis()); cur
    }
    val g0 = gcSeconds()
    val t0 = System.nanoTime()
    sc.setLocalProperty(PhaseKey, acc.id + ":build")
    val (df, t1) = try { val d = build; (d, System.nanoTime()) }
      finally sc.setLocalProperty(PhaseKey, acc.id + ":exec")
    val c = df.groupBy().count()
    val qe = c.queryExecution
    qe.analyzed; val t2 = System.nanoTime()
    qe.optimizedPlan; val t3 = System.nanoTime()
    qe.executedPlan; val t4 = System.nanoTime()
    val rows = try c.collect()(0).getLong(0)
      finally sc.setLocalProperty(PhaseKey, null)
    val t5 = System.nanoTime()
    val g1 = gcSeconds()
    PerfbenchBus.drain(sc)
    synchronized {
      cur = null
      stagePhase.filterInPlace((_, v) => v != acc.id)
    }
    rows -> Map(
      "wall" -> (t5 - t0) / 1e9, "build" -> (t1 - t0) / 1e9,
      "analyze" -> (t2 - t1) / 1e9, "optimize" -> (t3 - t2) / 1e9,
      "physical" -> (t4 - t3) / 1e9, "exec" -> (t5 - t4) / 1e9,
      "build_jobs" -> acc.buildJobs, "exec_jobs" -> acc.execJobs,
      "stages" -> acc.stages, "tasks" -> acc.tasks, "task_s" -> acc.taskS,
      "gc_s" -> (g1 - g0),
      "shuffle_write" -> acc.shuffleWrite, "shuffle_read" -> acc.shuffleRead,
      "spill" -> acc.spill, "input" -> acc.input, "result" -> acc.result,
      "intervals" -> acc.intervals.toList,
      "batches" -> acc.batches, "input_rows" -> acc.inputRows,
      "trigger_s" -> acc.triggerS, "commit_s" -> acc.commitS,
      "state_rows" -> acc.stateRows.values.sum)
  }
}

object Trace {
  val PhaseKey = "perfbench.phase"

  final class Acc(val id: String, val t0Ms: Long) {
    var buildJobs, execJobs, stages, tasks = 0
    var taskS = 0.0
    var shuffleWrite, shuffleRead, spill, input, result = 0L
    val intervals = mutable.ArrayBuffer[(Double, Double)]()
    var batches, inputRows = 0L
    var triggerS, commitS = 0.0
    // per stream run: state rows after its last micro-batch
    val stateRows = mutable.Map[java.util.UUID, Long]()
  }

  def gcSeconds(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).filter(_ >= 0).sum / 1e3
  }

  /** Times `run`, which returns a row count. */
  def timed(run: => Long): (Long, Double) = {
    val t0 = System.nanoTime()
    val n = run
    n -> (System.nanoTime() - t0) / 1e9
  }
}
