package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{
  Alias, Attribute, EqualTo, Expression}
import org.apache.spark.sql.catalyst.plans.{Inner, JoinType, LeftOuter}
import org.apache.spark.sql.catalyst.plans.logical.{
  LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ColumnInternals
import graft.StringToColumn

/** Left/inner equi-joins with the reference's column-conflict rule:
  * right columns OVERRIDE shared non-key columns on a match, and the
  * left value survives on a miss (`/root/reference/core/join.c:158-298`;
  * kdb lj semantics). Plain Spark `join` would either duplicate or drop
  * the shared column — the override needs the presence-flag rewrite.
  *
  * The join itself is a [[graft.plans.HashJoinNode]], planned as
  * `HashJoinExec`: both sides shuffled on the keys, the right rows of each
  * partition loaded into an open-addressing table, the left rows streamed
  * through it. That is the reference's build-and-probe, one table per
  * partition; nothing is collected to the driver or broadcast. Key pairs
  * of different types compare the way Catalyst's `===` compares them (an
  * int key against a long one is cast to long); a null key matches
  * nothing. Output row order is unspecified. Filters written above the
  * join are not pushed below it (no query in `SparkEntry` or the
  * benchmark filters a Rayfall join's output). */
object Joins {

  def leftJoinOverride(left: DataFrame, right: DataFrame,
                       keys: Seq[String]): DataFrame =
    joinOverride(left, right, keys, LeftOuter)

  def innerJoinOverride(left: DataFrame, right: DataFrame,
                        keys: Seq[String]): DataFrame =
    joinOverride(left, right, keys, Inner)

  private def joinOverride(left: DataFrame, right: DataFrame,
                           keys: Seq[String], how: JoinType): DataFrame = {
    require(keys.nonEmpty, "a join needs at least one key column")
    val spark = left.sparkSession
    graft.plans.AsofJoinStrategy.install(spark)
    val shared = right.columns.filter(c =>
      left.columns.contains(c) && !keys.contains(c))
    val rightOnly = right.columns.filterNot(c =>
      left.columns.contains(c) || keys.contains(c))
    // every right column is aliased (fresh exprIds): a custom binary node
    // gets no DeduplicateRelations, so a self-join would otherwise carry
    // the same attribute ids on both children
    val r = right
      .select(right.columns.map(c => col(c).as(s"r_$c")).toSeq: _*)
      .withColumn("__hit", lit(1))
    val lPlan = ColumnInternals.analyzed(left)
    val rPlan = ColumnInternals.analyzed(r)
    val (lKeys, rKeys) = equiKeys(spark,
      keys.map(attr(lPlan, _)), keys.map(k => attr(rPlan, s"r_$k"))).unzip
    val joined = ColumnInternals.ofRows(spark,
      graft.plans.HashJoinNode(lPlan, rPlan, lKeys, rKeys, how))
    joined.select(
      keys.map(col) ++
        left.columns.filterNot(keys.contains).map { c =>
          if (shared.contains(c))
            when($"__hit".isNotNull, col(s"r_$c")).otherwise(col(c)).as(c)
          else col(c).as(c)
        } ++
        rightOnly.map(c => col(s"r_$c").as(c)): _*)
  }

  private def attr(p: LogicalPlan, name: String): Attribute =
    p.resolve(Seq(name), org.apache.spark.sql.internal.SQLConf.get.resolver)
      .collect { case a: Attribute => a }
      .getOrElse(throw new IllegalArgumentException(
        s"join key $name is not a column of ${p.output.map(_.name)}"))

  /** The sides of `l(i) === r(i)` as the analyzer coerces them: analyzing
    * the equalities over a relation of the key attributes alone applies
    * the same type coercion a Catalyst join condition gets, and reads no
    * data. */
  private def equiKeys(spark: SparkSession, l: Seq[Attribute],
                       r: Seq[Attribute]): Seq[(Expression, Expression)] = {
    val eqs = l.zip(r).zipWithIndex.map { case ((a, b), i) =>
      Alias(EqualTo(a, b), s"k$i")() }
    ColumnInternals.analyzed(ColumnInternals.ofRows(spark,
      Project(eqs, LocalRelation(l ++ r)))) match {
      case Project(list, _) => list.map {
        case Alias(EqualTo(a, b), _) => (a, b)
        case e => throw new IllegalStateException(
          s"join key equality analyzed to $e")
      }
      case p => throw new IllegalStateException(
        s"join key equalities analyzed to $p")
    }
  }
}
