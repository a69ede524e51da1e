package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into Spark's `private[sql]` Column ↔ Expression converters
  * (`org.apache.spark.sql.classic.ExpressionUtils`), needed to expose a
  * custom Catalyst aggregate (`graft.functions.BoundedTopK`) as a user
  * `Column`. This is the conventional extension-point shim for libraries
  * that add native expressions; it contains no logic of its own.
  */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Fully CONVERT a Column's node tree into a catalyst Expression
    * (functions become `UnresolvedFunction`s the analyzer resolves).
    * [[expression]] merely WRAPS the node in a `ColumnNodeExpression`,
    * which only the Dataset API's own conversion pass unwraps — inside a
    * FunctionRegistry builder the wrapper survives analysis and dies at
    * codegen as Unevaluable. Use this for SQL-registered functions built
    * from Column combinators. */
  def catalystExpression(c: Column): Expression =
    classic.ColumnNodeToExpressionConverter(c.node)

  /** Public alias of the `private[sql]` AbstractDataType so external
    * expressions can declare `inputTypes` (ImplicitCastInputTypes). */
  type SqlAbstractDataType = org.apache.spark.sql.types.AbstractDataType

  /** Free the RDD-level cache behind a `localCheckpoint()`ed Dataset.
    *
    * `Dataset.unpersist()` only clears CacheManager entries
    * (`persist`/`cache`); a local checkpoint is cached directly on the
    * internal RDD, to which the public API offers no handle — so every
    * round of an iterative loop (e.g. connected components) would leak
    * its cached blocks for the JVM's lifetime, competing for storage
    * memory with all later queries. Only call this once nothing will
    * read the Dataset again: checkpointing truncated its lineage, so
    * dropped blocks cannot be recomputed. */
  def unpersistLocalCheckpoint(ds: Dataset[_]): Unit =
    ds.queryExecution.analyzed match {
      case r: execution.LogicalRDD => r.rdd.unpersist(blocking = false)
      case _                       => ()
    }
}
