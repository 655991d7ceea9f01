package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.catalyst.expressions.{Alias, EmptyRow, Expression}
import org.apache.spark.sql.catalyst.plans.logical.{OneRowRelation, Project}
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ↔ Expression bridge for expressions that must carry driver-side
  * OBJECT references (e.g. accumulators in
  * [[graft.expressions.CapMeter]]) and therefore cannot ride the
  * name-based function registry the rest of graft's expressions use.
  * `ExpressionUtils` is `private[sql]` in Spark 4's classic API, so the
  * shim lives under the sql package — the standard OSS technique (same
  * access pattern frameless et al. use). Nothing here is stateful. */
object ExprBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Value of a Column built from literals only, computed on the driver:
    * the session's analyzer resolves it (function lookup, implicit casts)
    * exactly as it would inside a query, and the resolved expression is
    * evaluated once — the same Catalyst expression, no query execution. */
  def fold(spark: SparkSession, c: Column): Any = {
    val session = spark.asInstanceOf[classic.SparkSession]
    val resolved = session.sessionState.analyzer.executeAndCheck(
      Project(Seq(Alias(session.expression(c), "_v")()), OneRowRelation()),
      new QueryPlanningTracker).asInstanceOf[Project].projectList.head
    // not `foldable`: Catalyst does not mark hash expressions foldable,
    // though over literals they evaluate like any other
    require(resolved.references.isEmpty && resolved.deterministic,
      s"fold needs a deterministic literal-only column, got $c")
    resolved.eval(EmptyRow)
  }
}
