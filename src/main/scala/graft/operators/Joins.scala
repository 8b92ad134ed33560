package graft.operators

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerUnpersistRDD}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{
  Alias, Attribute, AttributeMap, EqualTo, Expression, Literal}
import org.apache.spark.sql.catalyst.plans.{Inner, JoinType, LeftOuter}
import org.apache.spark.sql.catalyst.plans.logical.{
  LocalRelation, LogicalPlan, Project, RepartitionByExpression}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ColumnInternals
import graft.StringToColumn
import graft.plans.HashJoinNode

/** Left/inner equi-joins with the reference's column-conflict rule:
  * right columns OVERRIDE shared non-key columns on a match, and the
  * left value survives on a miss (`/root/reference/core/join.c:158-298`;
  * kdb lj semantics). Plain Spark `join` would either duplicate or drop
  * the shared column — the override needs the presence-flag rewrite.
  *
  * The join itself is a [[graft.plans.HashJoinNode]], planned as
  * `HashJoinExec`: both sides clustered on the keys, the right rows of
  * each partition loaded into an open-addressing table, the left rows
  * streamed through it. That is the reference's build-and-probe, one
  * table per partition; nothing is collected to the driver or broadcast.
  * Key pairs of different types compare the way Catalyst's `===`
  * compares them (an int key against a long one is cast to long); a null
  * key matches nothing. Output row order is unspecified. Filters written
  * above the join are not pushed below it (no query in `SparkEntry` or
  * the benchmark filters a Rayfall join's output).
  *
  * A side that is not cached is shuffled on its keys by every join, and
  * reads its source again each time. A side that is cached joins through
  * a keyed copy ([[KeyedCopies]]): the cached rows hash-partitioned once
  * on this join's keys and cached at the source's storage level, so the
  * planner finds that side laid out as the join needs it and adds no
  * exchange, from the second join on the same keys onwards. The copy is
  * computed by the first join that scans it (building the DataFrame
  * starts no job) and costs at most one more cached copy of each cached
  * source. */
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
    val lSrc = ColumnInternals.analyzed(left)
    val rSrc = ColumnInternals.analyzed(right)
    // every right column is aliased (fresh exprIds): a custom binary node
    // gets no DeduplicateRelations, so a self-join would otherwise carry
    // the same attribute ids on both children
    val rAliases = rSrc.output.map(a => Alias(a, s"r_${a.name}")())
    val rCols = rAliases :+ Alias(Literal(1), "__hit")()
    val (lKeys, rKeys) = equiKeys(spark, keys.map(attr(lSrc, _)),
      keys.map(k => attr(Project(rCols, rSrc), s"r_$k"))).unzip
    // the right keys over the right side's own columns, which its keyed
    // copy is partitioned on
    val unalias = AttributeMap(rAliases.map(_.toAttribute).zip(rSrc.output))
    val rSrcKeys = rKeys.map(_.transform {
      case a: Attribute => unalias.getOrElse(a, a) })
    val joined = ColumnInternals.ofRows(spark, HashJoinNode(
      KeyedCopies.keyed(spark, lSrc, lKeys),
      Project(rCols, KeyedCopies.keyed(spark, rSrc, rSrcKeys)),
      lKeys, rKeys, how))
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

/** The keyed copies of cached join sides, at most one per cached source.
  *
  * A copy is its source's analyzed plan repartitioned by hash on the
  * keys as [[graft.plans.HashJoinExec]] requires them for that side (the
  * [[HashJoinNode.comparable]] forms, coercion casts included) into
  * `numShufflePartitions` partitions, and registered in the shared cache
  * at the source's storage level. A cached scan reports the partitioning
  * of the plan it cached and a projection carries it through its
  * aliases, so EnsureRequirements finds two such sides co-partitioned.
  * Two cached sides whose plans are the same result share one cache
  * entry, and so one copy.
  *
  * A copy lives as long as its source's cache entry: a join of the same
  * source on other keys replaces it, and when the source is unpersisted
  * or the cache is cleared the copy is dropped (at the next join, or when
  * the listener sees the source's blocks go). The registry is keyed by
  * the identity of the source's cache builder: a source cached again is
  * a new builder, so it never gets a copy of the old one. */
private[operators] object KeyedCopies {
  private final case class Copy(spark: SparkSession, source: LogicalPlan,
                                plan: LogicalPlan)

  private val copies = new java.util.IdentityHashMap[AnyRef, Copy]
  @volatile private var listening: SparkContext = _

  /** `side`, or its keyed copy on `keys` when `side` is cached. Registers
    * (or replaces) the copy; computes nothing. */
  def keyed(spark: SparkSession, side: LogicalPlan,
            keys: Seq[Expression]): LogicalPlan =
    ColumnInternals.cacheOf(spark, side) match {
      case None => side
      case Some((builder, level)) =>
        val plan = RepartitionByExpression(keys.map(HashJoinNode.comparable),
          side, Some(ColumnInternals.numShufflePartitions(spark)))
        listen(spark.sparkContext)
        synchronized {
          sweep()
          if (ColumnInternals.cacheOf(spark, plan).isEmpty) {
            Option(copies.remove(builder)).foreach(c =>
              ColumnInternals.uncache(c.spark, c.plan))
            ColumnInternals.cache(spark, plan, level)
            copies.put(builder, Copy(spark, side, plan))
          }
        }
        plan
    }

  /** Uncaches every copy whose source is no longer cached, and forgets
    * every copy that is no longer cached itself. */
  private def sweep(): Unit = synchronized {
    val it = copies.entrySet.iterator
    while (it.hasNext) {
      val e = it.next()
      val c = e.getValue
      if (c.spark.sparkContext.isStopped) it.remove()
      else if (!ColumnInternals.cacheOf(c.spark, c.source)
          .exists(_._1 eq e.getKey)) {
        ColumnInternals.uncache(c.spark, c.plan)
        it.remove()
      } else if (ColumnInternals.cacheOf(c.spark, c.plan).isEmpty)
        it.remove()
    }
  }

  /** Sweeps whenever `sc` unpersists an RDD, so an unpersisted source
    * frees its copy without waiting for another join. */
  private def listen(sc: SparkContext): Unit =
    if (listening ne sc) synchronized {
      if (listening ne sc) {
        sc.addSparkListener(new SparkListener {
          override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit =
            sweep()
        })
        listening = sc
      }
    }
}
