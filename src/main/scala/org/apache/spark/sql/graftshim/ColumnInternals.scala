package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge to the `private[sql]` Column→Expression converter (Spark 4
  * removed the public `Column.expr`). Lives under o.a.s.sql so the
  * package-private API is reachable; keep this the ONLY file that does. */
object ColumnInternals {
  def expr(c: Column): Expression = ExpressionUtils.expression(c)
  def column(e: Expression): Column = ExpressionUtils.column(e)

  /** Build a DataFrame from a LogicalPlan (`Dataset.ofRows` is
    * private[sql]) — the standard library pattern for surfacing custom
    * logical operators. */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** `e` with its floating values normalized (-0.0 to 0.0, every NaN to
    * one NaN), the way the optimizer normalizes join and window keys. */
  def normalizeFloats(e: Expression): Expression =
    org.apache.spark.sql.catalyst.optimizer.NormalizeFloatingNumbers
      .normalize(e)

  /** A DataFrame's analyzed logical plan. */
  def analyzed(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.queryExecution.analyzed

  /** A driver-local DataFrame straight from InternalRows — skips the
    * per-Row encoder conversion `createDataFrame(List[Row], schema)` pays
    * (measured ~80 ms at 1e5 rows in the GroupKernel decode path). */
  def localDataFrame(spark: org.apache.spark.sql.SparkSession,
                     schema: org.apache.spark.sql.types.StructType,
                     rows: Seq[org.apache.spark.sql.catalyst.InternalRow])
      : org.apache.spark.sql.DataFrame =
    ofRows(spark, org.apache.spark.sql.catalyst.plans.logical.LocalRelation(
      org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes(schema),
      rows))

  /** A DataFrame over an RDD of InternalRows (`internalCreateDataFrame`
    * is private[sql]) — lets an operator hand codegen-ready rows to the
    * planner without a Row-encoder pass or a LocalRelation closure ship. */
  def internalDataFrame(spark: org.apache.spark.sql.SparkSession,
                        schema: org.apache.spark.sql.types.StructType,
                        rows: org.apache.spark.rdd.RDD[
                          org.apache.spark.sql.catalyst.InternalRow])
      : org.apache.spark.sql.DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rows, schema)

  /** Like [[internalDataFrame]] for a 1-partition RDD, DECLARING the
    * partitioning as SinglePartition (LogicalRDD carries it through to
    * the scan exec): a downstream global aggregate or sort then plans
    * with NO exchange — for GroupKernel's results merged in one task this
    * removes a whole 1-task stage (+ its stage boundary) from every
    * sub-second query's count/collect job (measured: the Q1 action job
    * was 2 × ~10 ms 1-task stages; this folds them into one). */
  def internalDataFrameSingle(
      spark: org.apache.spark.sql.SparkSession,
      schema: org.apache.spark.sql.types.StructType,
      rows: org.apache.spark.rdd.RDD[
        org.apache.spark.sql.catalyst.InternalRow])
      : org.apache.spark.sql.DataFrame = {
    require(rows.getNumPartitions == 1,
      s"SinglePartition declared over ${rows.getNumPartitions} partitions")
    val s = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    ofRows(spark, org.apache.spark.sql.execution.LogicalRDD(
      org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes(schema),
      rows,
      org.apache.spark.sql.catalyst.plans.physical.SinglePartition,
      Nil, false, None)(s))
  }

  /** The session's unique UUID (`sessionUUID` is private[sql]) — the
    * correct identity key for session-scoped caches: identityHashCode
    * is not unique across live sessions and is recycled after GC. */
  def sessionUUID(spark: org.apache.spark.sql.SparkSession): String =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionUUID

  /** Walk a Column's node tree looking for an aggregate function call —
    * named calls matched against `aggNames`, SQL-string fragments against
    * `sqlRegex`. (ColumnNode classes are private[sql].) */
  def containsAggregate(c: Column, aggNames: Set[String],
                        sqlRegex: scala.util.matching.Regex): Boolean = {
    import org.apache.spark.sql.internal.{SqlExpression, UnresolvedFunction}
    def walk(n: Any): Boolean = n match {
      case f: UnresolvedFunction
        if aggNames.contains(f.functionName.toLowerCase) => true
      case s: SqlExpression =>
        sqlRegex.findFirstIn(s.expression.toLowerCase).isDefined
      case i: Iterable[_] => i.exists(walk)
      case p: Product => p.productIterator.exists(walk)
      case _ => false
    }
    walk(c.node)
  }
}
