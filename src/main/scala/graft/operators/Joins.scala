package graft.operators

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerUnpersistRDD}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{
  Alias, Attribute, AttributeMap, EqualTo, Expression, Literal, SortOrder}
import org.apache.spark.sql.catalyst.plans.{Inner, JoinType, LeftOuter}
import org.apache.spark.sql.catalyst.plans.logical.{
  LocalRelation, LogicalPlan, Project, RepartitionByExpression, Sort}
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
  * exchange. The copy is built by the first join that scans it, as part
  * of that join's own job (building the DataFrame starts no job), and
  * costs at most one more cached copy of each cached source; a copy a
  * window join sorted on the same keys serves as well. */
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
      KeyedCopies.keyed(spark, lSrc, lKeys.map(HashJoinNode.comparable)),
      Project(rCols, KeyedCopies.keyed(spark, rSrc,
        rSrcKeys.map(HashJoinNode.comparable))),
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
  * A copy is a *layout* of a side: the side's analyzed plan repartitioned
  * by hash on partition expressions into `numShufflePartitions`
  * partitions and, when a join asks for one, sorted within each
  * partition. [[graft.plans.HashJoinExec]] asks for its side's keys in
  * their [[HashJoinNode.comparable]] forms and no order;
  * [[graft.plans.WindowJoinExec]] asks for its typed keys and the order
  * (keys, ts). The side is a cached source or a view of one (a window
  * join projects its cast left keys over the source). The copy is
  * registered in the shared cache at the source's storage level and
  * planned without adaptive execution, so its scan reports the
  * partitioning and ordering of the plan it caches from the first join
  * on, and a projection carries both through its aliases:
  * EnsureRequirements finds such sides laid out as the join needs them
  * and adds no exchange and no sort. Two cached sides whose plans are the
  * same result share one cache entry, and so one copy.
  *
  * A request is served by the source's copy when it is of the same side
  * on the same partition expressions and its order is a prefix of the
  * copy's (a hash join on `k` reuses the copy a window join on (`k`, ts)
  * made); any other request replaces the copy. A copy lives as long as
  * its source's cache entry: when the source is unpersisted or the cache
  * is cleared the copy is dropped (at the next join, or when the listener
  * sees the source's blocks go). The registry is keyed by the identity of
  * the source's cache builder: a source cached again is a new builder, so
  * it never gets a copy of the old one. */
private[operators] object KeyedCopies {
  private final case class Copy(spark: SparkSession, source: LogicalPlan,
                                side: LogicalPlan, order: Seq[SortOrder],
                                plan: LogicalPlan)

  private val copies = new java.util.IdentityHashMap[AnyRef, Copy]
  @volatile private var listening: SparkContext = _

  /** `view(source)`, or its copy hash-partitioned on `keys` (expressions
    * over that view's output) and sorted by `order` within each partition
    * when `source` is cached and there are keys. Registers (or replaces)
    * the copy; computes nothing. */
  def keyed(spark: SparkSession, source: LogicalPlan, keys: Seq[Expression],
            order: Seq[SortOrder] = Nil,
            view: LogicalPlan => LogicalPlan = identity): LogicalPlan = {
    val side = view(source)
    ColumnInternals.cacheOf(spark, source) match {
      case Some((builder, level)) if keys.nonEmpty =>
        def laid(o: Seq[SortOrder]): LogicalPlan = {
          val parts = RepartitionByExpression(keys, side,
            Some(ColumnInternals.numShufflePartitions(spark)))
          if (o.isEmpty) parts else Sort(o, global = false, parts)
        }
        listen(spark.sparkContext)
        synchronized {
          sweep()
          Option(copies.get(builder)).flatMap(serving(_, side, order))
            .map(laid).filter(ColumnInternals.cacheOf(spark, _).isDefined)
            .getOrElse {
              val plan = laid(order)
              if (ColumnInternals.cacheOf(spark, plan).isEmpty) {
                Option(copies.remove(builder)).foreach(c =>
                  ColumnInternals.uncache(c.spark, c.plan))
                ColumnInternals.cache(spark, plan, level)
                copies.put(builder, Copy(spark, source, side, order, plan))
              }
              plan
            }
        }
      case _ => side
    }
  }

  /** `c`'s order over `side`'s output, when `order` is a prefix of it. The
    * caller's cache lookup then checks that `c` copied the same side on
    * the same partition expressions. */
  private def serving(c: Copy, side: LogicalPlan,
                      order: Seq[SortOrder]): Option[Seq[SortOrder]] =
    if (c.side.output.length != side.output.length) None
    else {
      val to = AttributeMap(c.side.output.zip(side.output))
      val full = c.order.map(_.transform {
        case a: Attribute => to.getOrElse(a, a) }.asInstanceOf[SortOrder])
      if (order.length <= full.length &&
          order.zip(full).forall { case (a, b) => a.semanticEquals(b) })
        Some(full)
      else None
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
