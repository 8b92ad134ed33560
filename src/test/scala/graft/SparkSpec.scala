package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sf = "/root/testdata/sf0.001"

  /** The shuffle exchanges below the HashJoinExecs of `df`'s executed
    * plan (there must be one). */
  def exchangesBelowJoin(df: DataFrame): Int =
    below(df, _.isInstanceOf[graft.plans.HashJoinExec],
      _.isInstanceOf[ShuffleExchangeLike])

  /** The shuffle exchanges and sorts below the WindowJoinExecs of `df`'s
    * executed plan (there must be one). */
  def exchangesAndSortsBelowWindowJoin(df: DataFrame): Int =
    below(df, _.isInstanceOf[graft.plans.WindowJoinExec], p =>
      p.isInstanceOf[ShuffleExchangeLike] || p.isInstanceOf[SortExec])

  private def below(df: DataFrame, join: SparkPlan => Boolean,
                    counted: SparkPlan => Boolean): Int = {
    val helper = new AdaptiveSparkPlanHelper {}
    val joins = helper.collect(df.queryExecution.executedPlan) {
      case j if join(j) => j }
    assert(joins.nonEmpty, df.queryExecution.executedPlan.toString)
    joins.map(helper.collect(_) { case p if counted(p) => p }.length).sum
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
