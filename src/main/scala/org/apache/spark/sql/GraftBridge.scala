package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Column ↔ catalyst Expression bridge. Spark 4 made the converters
  * (`classic.ExpressionUtils`) private[sql]; custom expression libraries
  * conventionally expose them from a file compiled into the
  * `org.apache.spark.sql` package. No Spark internals are modified.
  */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Wrap an analyzed LogicalPlan as a DataFrame (what every DataFrame
    * transformation does internally via `classic.Dataset.ofRows`; needed
    * by custom logical operators like [[graft.plans.AsofJoinPlan]]).
    */
  def ofRows(
      spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Release the block-storage blocks behind a `localCheckpoint()`ed
    * DataFrame. `df.unpersist()` is a no-op there — the blocks belong to
    * the checkpointed RDD inside the plan's `LogicalRDD` leaf, not to a
    * CacheManager entry — so iterative algorithms that checkpoint per
    * round must free superseded rounds explicitly or pin
    * O(rounds × |state|) storage until ContextCleaner GC.
    *
    * CONTRACT: the caller must guarantee that NO other live DataFrame /
    * plan still references this checkpoint. A local checkpoint truncates
    * lineage, so once its blocks are dropped they are unrecoverable —
    * any plan sharing them fails permanently on next use (unlike a cache
    * eviction, which recomputes). Only call on a frame you exclusively
    * own whose round has been superseded.
    */
  def freeLocalCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** Apply an extensions object's injected functions to a registry
    * (what session build does internally; used by tests).
    */
  def registerFunctions(
      ext: SparkSessionExtensions,
      registry: org.apache.spark.sql.catalyst.analysis.FunctionRegistry)
      : org.apache.spark.sql.catalyst.analysis.FunctionRegistry =
    ext.registerFunctions(registry)
}
