package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of join: for each left row, attach the right row with the same keys
  * and the greatest right time ≤ the left time (kdb `aj`; reference
  * `asof-join`, `/root/reference/core/join.c:300`,
  * `core/index.c:3194-3269`).
  *
  * Spark-first plan (scales to arbitrary data): tag both sides, union,
  * then a single `Window.partitionBy(keys).orderBy(ts, side)` with
  * `last(right_row_struct, ignoreNulls)` carries the latest right row
  * forward onto each left row. Cost = ONE shuffle on the keys + a sort
  * within partitions — the same sorted-merge-within-key work the
  * reference does, but distributed. No broadcast required, so the right
  * side may be arbitrarily large; skew on a hot key is the only caveat
  * (pre-salt if needed).
  *
  * The right row is carried as a single struct so that a matched row
  * whose payload column is NULL is still the row that wins (a per-column
  * `last(ignoreNulls)` would wrongly reach back to an older row).
  */
object AsofJoin {

  /** Merge-exec variant: routes through the custom logical/physical
    * operator (`plans.AsofJoinNode`/`AsofJoinExec`) — children clustered
    * on keys and sorted by (keys, ts), then a single-pass per-partition
    * merge. Same semantics as [[asofJoin]] (≤-inclusive match, right
    * wins shared names on match). Pre-bucketed children join with NO
    * shuffle; unsorted children get exactly one exchange+sort each —
    * never the union's doubled sort input. */
  def asofJoinMerge(left: DataFrame, right: DataFrame, keys: Seq[String],
                    ts: String, rightCols: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.graftshim.ColumnInternals
    val spark = left.sparkSession
    graft.plans.AsofJoinStrategy.install(spark)

    val payload =
      if (rightCols.nonEmpty) rightCols
      else right.columns.filterNot(c => keys.contains(c) || c == ts).toSeq
    val leftCols = left.columns.toSeq
    // Alias EVERY right-side column (fresh exprIds): unlike Join, a
    // custom binary node gets no DeduplicateRelations from the analyzer,
    // so a self-join (both sides off one scan) would otherwise carry the
    // same attribute ids on both children and confuse column pruning.
    // __hit is the match flag: "right wins on match" must distinguish a
    // matched-but-null payload from a miss.
    val pre = right
      .withColumn("__rtie", monotonically_increasing_id())
      .select(
        keys.map(k => col(k).as(s"__rk_$k")) ++
          (col(ts).as("__rts") +: col("__rtie") +: lit(true).as("__hit") +:
            payload.map(n => col(n).as(s"__p_$n"))): _*)

    val lPlan = ColumnInternals.analyzed(left)
    val rPlan = ColumnInternals.analyzed(pre)
    def attr(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
             n: String) =
      p.output.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(s"missing column $n"))
    val node = graft.plans.AsofJoinNode(lPlan, rPlan,
      keys.map(attr(lPlan, _)), keys.map(k => attr(rPlan, s"__rk_$k")),
      attr(lPlan, ts), attr(rPlan, "__rts"), attr(rPlan, "__rtie"),
      attr(rPlan, "__hit") +: payload.map(n => attr(rPlan, s"__p_$n")))
    val joined = ColumnInternals.ofRows(spark, node)

    val collided = payload.filter(leftCols.contains).toSet
    val outLeft = leftCols.map { c =>
      if (collided(c))
        when(col("__hit"), col(s"__p_$c")).otherwise(col(c)).as(c)
      else col(c)
    }
    val outRight = payload.filterNot(collided).map(c => col(s"__p_$c").as(c))
    joined.select(outLeft ++ outRight: _*)
  }

  /** Narrow-shuffle variant for WIDE left tables: only (keys, ts, row-id)
    * ride through the union+window shuffle; the full left row joins back
    * by id afterwards. Trades one extra (narrow) join for not dragging
    * every left column through the sort — the right call when the left
    * table is hundreds of columns at warehouse scale. Row ids are pinned
    * with a localCheckpoint so both consumers see identical ids. */
  def asofJoinNarrow(left: DataFrame, right: DataFrame, keys: Seq[String],
                     ts: String, rightCols: Seq[String] = Nil): DataFrame = {
    val lid = left.withColumn("__lid", monotonically_increasing_id())
      .localCheckpoint()
    val slim = lid.select((keys :+ ts :+ "__lid").map(col): _*)
    val matched = asofJoin(slim, right, keys, ts, rightCols)
      .drop(keys :+ ts: _*)
    lid.join(matched, "__lid").drop("__lid")
  }

  /** As-of join with a TOLERANCE (the pandas `merge_asof(tolerance=)`
    * form the reference's `aj` lacks): a prevailing match farther than
    * `tol` in the ts unit is treated as a MISS — its payload columns
    * null out and `asof_within` reports false. Stale quotes, expired
    * sessions, sensor dropouts: the standard guard against joining
    * against ancient state. Composes [[asofJoin]] (the matched right
    * ts rides along as a payload column) with one narrow post-map —
    * same shuffles, same determinism. Payload names must not collide
    * with left columns (the override rule can't compose with nulling). */
  def asofJoinTolerance(left: DataFrame, right: DataFrame,
                        keys: Seq[String], ts: String, tol: Long,
                        rightCols: Seq[String] = Nil): DataFrame = {
    val payload =
      if (rightCols.nonEmpty) rightCols
      else right.columns.filterNot(c => keys.contains(c) || c == ts).toSeq
    val collided = payload.toSet.intersect(left.columns.toSet)
    require(collided.isEmpty,
      s"asofJoinTolerance payload collides with left columns $collided — " +
        "rename them (nulling a miss cannot compose with the override rule)")
    val r2 = right.withColumn("__mts", col(ts))
    val j = asofJoin(left, r2, keys, ts, rightCols = payload :+ "__mts")
    val ok = col("__mts").isNotNull && (col(ts) - col("__mts") <= tol)
    payload.foldLeft(j)((df, c) => df.withColumn(c, when(ok, col(c))))
      .withColumn("asof_within", coalesce(ok, lit(false)))
      .drop("__mts")
  }

  /** FORWARD as-of join (pandas `merge_asof(direction='forward')`, the
    * time-to-next-event form the reference's backward-only `aj` lacks):
    * for each left row, the FIRST right row with r.ts >= l.ts per key.
    * Composes the backward engine on NEGATED timestamps — exact under
    * this repo's integer-ts convention (ns-as-long; negation of an i64
    * is lossless, unlike any float trick) — so it inherits the same
    * shuffles and determinism. Tie rule mirrors backward: among right
    * rows tied on ts, the LAST in table order wins. `ts` must be an
    * integer column (fails fast otherwise). */
  def asofJoinForward(left: DataFrame, right: DataFrame,
                      keys: Seq[String], ts: String,
                      rightCols: Seq[String] = Nil): DataFrame = {
    def integral(df: DataFrame): Boolean = df.schema(ts).dataType match {
      case org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.IntegerType => true
      case _ => false
    }
    require(integral(left) && integral(right),
      s"asofJoinForward needs an integer ts column (got " +
        s"${left.schema(ts).dataType} / ${right.schema(ts).dataType}) — " +
        "the negation composition is only lossless on integers")
    asofJoin(left.withColumn(ts, -col(ts)),
        right.withColumn(ts, -col(ts)), keys, ts, rightCols)
      .withColumn(ts, -col(ts))
  }

  /** @param keys      equi-join key columns (present in both sides)
    * @param ts        time column name (present in both sides, orderable)
    * @param rightCols right payload columns to attach (default: all
    *                  non-key, non-ts right columns)
    */
  def asofJoin(left: DataFrame, right: DataFrame, keys: Seq[String], ts: String,
               rightCols: Seq[String] = Nil): DataFrame = {
    val payload =
      if (rightCols.nonEmpty) rightCols
      else right.columns.filterNot(c => keys.contains(c) || c == ts).toSeq
    val leftCols = left.columns.toSeq

    val l = left
      .withColumn("__side", lit(1))
      .withColumn("__rid", lit(null).cast("long"))
      .withColumn("__r", lit(null).cast(
        org.apache.spark.sql.types.StructType(
          payload.map(c => org.apache.spark.sql.types.StructField(
            c, right.schema(c).dataType, nullable = true)))))
    val r = {
      // __rid pins the reference's tie rule: among right rows with equal
      // (keys, ts) the LAST in table order wins (its binary search finds
      // the last index ≤, core/index.c:3194)
      val base = right
        .withColumn("__rid", monotonically_increasing_id())
        .select((keys :+ ts).map(col) ++
          Seq(col("__rid"), struct(payload.map(col): _*).as("__r")): _*)
      // null out left-only columns; keep a common schema for the union
      leftCols.filterNot(c => keys.contains(c) || c == ts)
        .foldLeft(base)((df, c) => df.withColumn(c, lit(null).cast(left.schema(c).dataType)))
        .withColumn("__side", lit(0))
        .select((leftCols.map(col) ++ Seq(col("__side"), col("__rid"), col("__r"))): _*)
    }

    // right rows sort before left rows at equal ts → `≤` (inclusive) match;
    // __rid orders right rows tied on ts so the last-in-table-order wins
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(ts), col("__side"), col("__rid"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)

    // Shared payload/left names follow the reference's override rule
    // (ray_asof_join routes through __left_join_inner, core/join.c:300):
    // right value wins on a match, left value survives on a miss. The
    // collided column is emitted once, in the left column's position.
    val collided = payload.filter(leftCols.contains).toSet
    val outLeft = leftCols.map { c =>
      if (collided(c))
        when(col("__m").isNotNull, col(s"__m.$c")).otherwise(col(c)).as(c)
      else col(c)
    }
    val outRight = payload.filterNot(collided).map(c => col(s"__m.$c").as(c))

    l.select((leftCols.map(col) ++ Seq(col("__side"), col("__rid"), col("__r"))): _*)
      .unionByName(r)
      .withColumn("__m", last(col("__r"), ignoreNulls = true).over(w))
      .filter(col("__side") === 1)
      .select(outLeft ++ outRight: _*)
  }
}
