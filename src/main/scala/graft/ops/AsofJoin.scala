package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** AS-OF join — for every left row, the latest right row with
  * `right.ts <= left.ts` on the same key. Spark has no native asof join;
  * the preference order (compose built-ins before custom plans) applies,
  * and composition here is also the SCALE-correct shape:
  *
  *   union(tagged right, tagged left) → one hash shuffle on `keys` →
  *   per-key sort by (ts, tag) → running `last(payload, ignoreNulls)`
  *
  * — a single shuffle of |L|+|R| rows. The naive formulations all explode:
  * an inequality join is a per-key cartesian, a correlated max-subquery is
  * a join per row. This is the streaming-merge asof algorithm expressed in
  * one window.
  *
  * Requirements: both frames carry `tsCol`; the right side must be unique
  * per (keys, ts) — pre-aggregate duplicates or the picked row is
  * arbitrary. Right rows at exactly left.ts DO match (<=), because the
  * right side sorts before the left at equal ts via the tag.
  */
object AsofJoin {

  def asofJoin(left: DataFrame, right: DataFrame, keys: Seq[String], tsCol: String): DataFrame = {
    val payload = right.columns.filterNot(c => keys.contains(c) || c == tsCol).toSeq
    val leftOnly = left.columns.filterNot(c => keys.contains(c) || c == tsCol).toSeq
    require(payload.intersect(leftOnly).isEmpty,
      s"column collision between sides: ${payload.intersect(leftOnly).mkString(",")}")

    def nulls(names: Seq[String], from: DataFrame): Seq[Column] =
      names.map(c => lit(null).cast(from.schema(c).dataType).as(c))

    val taggedRight = right.select(
      keys.map(col) ++ Seq(col(tsCol), lit(0).as("__tag")) ++
        payload.map(col) ++ nulls(leftOnly, left): _*)
    val taggedLeft = left.select(
      keys.map(col) ++ Seq(col(tsCol), lit(1).as("__tag")) ++
        nulls(payload, right) ++ leftOnly.map(col): _*)

    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(tsCol), col("__tag"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)

    val carried = payload.foldLeft(taggedRight.unionByName(taggedLeft)) { (df, p) =>
      df.withColumn(p, last(col(p), ignoreNulls = true).over(w))
    }
    // SQL equi-join semantics: a NULL key never matches. The window
    // partitioning groups null keys together (null-keyed right rows would
    // flow into null-keyed left rows), so null-keyed left rows keep their
    // row but get a nulled payload — same contract as the native operator.
    val keyIsNull = keys.map(col(_).isNull).reduce(_ || _)
    carried.filter(col("__tag") === 1).drop("__tag")
      .select(keys.map(col) ++ Seq(col(tsCol)) ++ leftOnly.map(col) ++
        payload.map(p => when(keyIsNull, lit(null)).otherwise(col(p)).as(p)): _*)
  }

  /** SQL-boundary surface for the native asof operator (the reference's
    * query surface is plain SQL; without this the best operator in the
    * library is unreachable from `spark.sql`). Resolves both sides from
    * the session catalog — any table or temp view name — runs the NATIVE
    * asof, and registers the result as a temp view, so plain SQL composes
    * around it:
    *
    * {{{
    *   AsofJoin.createAsofView(spark, "trades_asof", "trades", "quotes",
    *     Seq("sym"), "ts")
    *   spark.sql("SELECT sym, avg(price) FROM trades_asof GROUP BY sym")
    * }}}
    *
    * The view is lazy (a named logical plan, no materialization), so
    * predicates written in SQL above it still push through
    * [[graft.plans.PushFilterThroughAsof]] into the asof's left side.
    */
  def createAsofView(spark: org.apache.spark.sql.SparkSession, outView: String,
                     leftTable: String, rightTable: String,
                     keys: Seq[String], tsCol: String): Unit =
    asofJoinNative(spark.table(leftTable), spark.table(rightTable), keys, tsCol)
      .createOrReplaceTempView(outView)

  /** The same asof semantics as [[asofJoin]] through the NATIVE operator
    * ([[graft.plans.AsofJoinPlan]] → [[graft.plans.AsofJoinExec]]): one
    * hash shuffle + sort per side, then a streaming per-partition merge
    * with O(1) state — no union, no tag columns, no window buffers.
    * Output column order matches [[asofJoin]] for drop-in comparison.
    */
  def asofJoinNative(left: DataFrame, right: DataFrame, keys: Seq[String], tsCol: String): DataFrame = {
    require(keys.nonEmpty, "asof join needs at least one key column")
    val collisions = right.columns.filterNot(c => keys.contains(c) || c == tsCol)
      .intersect(left.columns.filterNot(c => keys.contains(c) || c == tsCol))
    require(collisions.isEmpty,
      s"column collision between sides: ${collisions.mkString(",")}")
    val spark = left.sparkSession
    graft.expr.GraftFunctions.register(spark)
    val lp = left.queryExecution.analyzed
    val rp0 = right.queryExecution.analyzed
    // self-join-style attribute-id sharing (both sides derived from one
    // scan) confuses pruning into dropping "duplicate" right columns —
    // re-alias the right side with fresh expr ids when ids collide
    val rp =
      if (rp0.output.map(_.exprId).toSet.intersect(lp.output.map(_.exprId).toSet).isEmpty) rp0
      else org.apache.spark.sql.catalyst.plans.logical.Project(
        rp0.output.map(a =>
          org.apache.spark.sql.catalyst.expressions.Alias(a, a.name)()), rp0)
    def attr(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, n: String) =
      p.output.find(_.name == n).getOrElse(sys.error(s"column $n not found"))
    val payload = rp.output.filterNot(a => keys.contains(a.name) || a.name == tsCol)
    val plan = graft.plans.AsofJoinPlan(
      lp, rp,
      keys.map(attr(lp, _)), keys.map(attr(rp, _)),
      attr(lp, tsCol), attr(rp, tsCol),
      payload)
    val leftOnly = left.columns.filterNot(c => keys.contains(c) || c == tsCol).toSeq
    org.apache.spark.sql.GraftSqlBridge.ofRows(spark, plan)
      .select(keys.map(col) ++ Seq(col(tsCol)) ++ leftOnly.map(col) ++
        payload.map(a => col(a.name)): _*)
  }
}
